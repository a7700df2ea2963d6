package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Warehouse

/** The part of q_bucketed_join a single-JVM oracle run cannot see: a FRESH
  * JVM has an empty in-memory catalog but the seeded bucket files survive
  * under /tmp, and the marker-gated re-attach must rebuild the catalog
  * entry with metadata-only DDL — no data rewrite — while preserving the
  * Exchange-free co-located join. Simulated here by dropping the catalog
  * entries (exactly what a JVM restart does to an in-memory catalog) while
  * leaving the seed directory intact.
  */
class BucketedSpec extends AnyFunSuite with SparkTest {

  test("re-attach after catalog loss: metadata-only DDL, files untouched, no Exchange") {
    val (ot, ct) = graft.ops.Bucketed.seed(spark, sf) // first seed (or reuse)
    // Both layouts are Warehouse seeds, so their hits and misses reach
    // the seed counts Bench reports.
    def counts(): Seq[Warehouse.SeedCount] = Seq(ot, ct).map { t =>
      val d = new java.io.File("/tmp/graft_bkt", t).getPath
      assert(Warehouse.seedCounts.contains(d), s"$d is not a counted seed")
      Warehouse.seedCounts(d)
    }
    counts()
    def files(): Map[String, (Long, Long)] = {
      def list(t: String) = new java.io.File(s"/tmp/graft_bkt/$t").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toSeq
      (list(ot) ++ list(ct)).toMap
    }
    val before = files()
    assert(before.nonEmpty, "seed must have produced bucket files")
    val expected = SparkEntry.queries("q_bucketed_join")(spark, sf).collect().toSeq

    // A JVM restart empties the in-memory catalog; DROP TABLE on an
    // EXTERNAL table removes only the entry, like the restart would.
    spark.sql(s"DROP TABLE `$ot`")
    spark.sql(s"DROP TABLE `$ct`")
    assert(!spark.catalog.tableExists(ot) && !spark.catalog.tableExists(ct))

    val seen = counts()
    val df = SparkEntry.queries("q_bucketed_join")(spark, sf)
    assert(counts() == seen.map(c => c.copy(hits = c.hits + 1)),
      "the re-attach must count one seed hit per table")
    assert(df.collect().toSeq == expected, "re-attached tables must give identical results")
    assert(files() == before, "re-attach must be metadata-only: no file rewritten")
    // The aggregation after the join keeps its own exchange; co-location
    // means no exchange on the JOIN keys.
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(o_custkey") &&
      !plan.contains("hashpartitioning(c_custkey"),
      s"re-attached bucketed join must stay co-located on the join keys:\n$plan")
  }
}
