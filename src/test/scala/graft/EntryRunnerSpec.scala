package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CacheScope, SessionCache}
import graft.ops.Graph

/** The entry runner (`SparkEntry.run`): what an entry caches is released
  * after its call, even when the action throws; the session memos'
  * frames stay; a repeat call runs the jobs of the first; and no main
  * under src/main builds an entry itself.
  */
class EntryRunnerSpec extends AnyFunSuite with SparkTest {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a frame the entry persisted is released when the action throws") {
    CacheScope.scoped(spark)(Graph.EdgeMemoSeed.build(spark, sf))
    val before = persisted
    val boom = new IllegalStateException("action failed")
    val ran = SparkEntry.run(spark, "q_graph_bfs", sf) { df =>
      df.queryExecution.toRdd.count()
      assert(!spark.sharedState.cacheManager.isEmpty,
        "q_graph_bfs no longer persists a frame; pick another entry")
      throw boom
    }
    assert(ran.result.failed.get eq boom)
    assert(ran.seconds > 0)
    assert(spark.sharedState.cacheManager.isEmpty)
    val pinned = SessionCache.pinnedRdds(spark)
    assert(pinned.nonEmpty && pinned.subsetOf(persisted),
      "the edge memos' checkpoints were released")
    assert(persisted -- before -- pinned == Set.empty)
  }

  test("the graph entries run the same jobs on a first and a repeat call") {
    Seq(Graph.EdgeMemoSeed, Graph.CcLabelsSeed)
      .foreach(seed => CacheScope.scoped(spark)(seed.build(spark, sf)))
    for (name <- Seq("q_graph_bfs", "q_pagerank", "q_graph_triangles", "q_graph_cc_incremental")) {
      def jobs: Int = org.apache.spark.JobCounter.count(spark.sparkContext) {
        SparkEntry.timed(spark, name, sf).get
      }._2
      val first = jobs
      assert(jobs == first, s"$name: the repeat call ran a different number of jobs")
    }
  }

  test("no main under src/main reaches the registry's entries but the runner") {
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten
        .flatMap(f => if (f.isDirectory) sources(f) else Seq(f))
        .filter(_.getName.endsWith(".scala"))
    val runner = new java.io.File("src/main/scala/graft/SparkEntry.scala")
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.exists(_.getName == runner.getName))
    for (f <- files if f.getCanonicalPath != runner.getCanonicalPath;
         (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex)
      assert(!line.contains("SparkEntry.queries"),
        s"${f.getName}:${i + 1} reads SparkEntry.queries; run entries through SparkEntry.run")
  }
}
