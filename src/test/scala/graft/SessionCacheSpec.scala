package graft

import org.scalatest.funsuite.AnyFunSuite

/** SessionCache (ADVICE r14): the session-keyed memo behind
  * Tables.catalog and Graph.edgeMemo. The WeakHashMap it replaced could
  * never reclaim an entry — each cached DataFrame strongly references
  * the session it is keyed by — so eviction is now explicit on context
  * stop. Stop-driven eviction itself cannot run inside the shared-session
  * test JVM (stopping the context would kill every other suite); the
  * sweep is exercised directly and the stop listener is a code-read
  * guarantee (registered in perSession, fires on ApplicationEnd, which
  * Spark posts after isStopped flips).
  */
class SessionCacheSpec extends AnyFunSuite with SparkTest {

  test("getOrBuild memoizes per (session, key) and builds exactly once") {
    val cache = new graft.core.SessionCache[String, AnyRef]
    var builds = 0
    def build(): AnyRef = { builds += 1; new Object }
    val a1 = cache.getOrBuild(spark, "a")(build())
    val a2 = cache.getOrBuild(spark, "a")(build())
    val b1 = cache.getOrBuild(spark, "b")(build())
    assert(a1 eq a2)
    assert(!(a1 eq b1))
    assert(builds == 2)
    assert(cache.size == 2)
  }

  test("getOrBuildRacy memoizes without holding the bin lock during the build") {
    val cache = new graft.core.SessionCache[String, AnyRef]
    // The racy variant may build twice under a genuine race, but must
    // hand every caller the single winning instance.
    val results = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[AnyRef, java.lang.Boolean]())
    val threads = (1 to 8).map(_ => new Thread(() => {
      results.add(cache.getOrBuildRacy(spark, "k")(new Object)); ()
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(results.size == 1)
    val winner = results.iterator().next()
    assert(cache.getOrBuildRacy(spark, "k")(fail("already cached")) eq winner)
  }

  test("evictStopped keeps entries of live sessions") {
    val cache = new graft.core.SessionCache[String, String]
    cache.getOrBuild(spark, "x")("v")
    cache.evictStopped()
    assert(cache.size == 1)
    assert(cache.getOrBuild(spark, "x")(fail("evicted a live session's entry")) == "v")
  }

  test("the table catalog and the edge memo re-read a lineitem rewritten in place") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_memo_rewrite")
    /** One file (one row group) per given pair. */
    def lineitem(pairs: (Long, Long)*): Unit = pairs.zipWithIndex.foreach { case ((p, s), i) =>
      Seq((p, s, 1.0)).toDF("l_partkey", "l_suppkey", "l_quantity").coalesce(1).write
        .mode(if (i == 0) "overwrite" else "append").parquet(s"$dir/lineitem.parquet")
    }
    def rowGroups: Int = graft.core.Tables.rowGroupCount(spark, dir, "lineitem")
    lineitem(1L -> 1L)
    assert(graft.ops.Graph.bipartiteEdges(spark, dir).count() == 2)
    assert(rowGroups == 1)
    lineitem(1L -> 1L, 2L -> 1L)
    assert(graft.ops.Graph.bipartiteEdges(spark, dir).count() == 4)
    assert(rowGroups == 2, "the row-group memo kept the count of the file it replaced")
  }

  test("the table catalog and the BPE merge memo re-read a documents rewritten in place") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_memo_rewrite")
    def documents(texts: String*): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def firstMerge: (Int, Int) = {
      val (l, r, _) = graft.ext.TextAnalysis.bpeLearnedMerges(spark, dir).head
      (l, r)
    }
    documents("abab abab")
    assert(firstMerge == ('a'.toInt, 'b'.toInt))
    documents("xy xy xy")
    assert(firstMerge == ('x'.toInt, 'y'.toInt))
  }
}
