package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CacheScope, SessionCache, Warehouse}
import graft.ext.OracleTap

/** Registry-wide smoke: every registered query runs on sf0.001 and
  * returns rows; every oracle key points at a registered query; the
  * flagship entry produces rows. The value-level correctness gate is the
  * driver's DuckDB compare (scripts/check.py locally).
  *
  * Also the seed drift guard: the declared seeds are warmed once before
  * the sweep, and the sweep may touch no marker-gated seed dir the warm
  * did not — an undeclared seed would be built inside Bench's timed
  * region. Touched means counted by `Warehouse.ensureSeed`, hit or miss,
  * so the guard holds whether or not the seeds already exist on disk.
  *
  * And the tap drift guard: every tap dir an entry's oracle reads back
  * (`read_parquet('<OracleTap.Root>/<tap>/...')`) is deleted before the
  * entry's sf0.001 run and must exist after it, so an oracle can never
  * name a tap its own entry stopped writing.
  *
  * And the release guard: every entry runs through the entry runner
  * (`SparkEntry.run`), and after each one Spark's `CacheManager` must
  * hold nothing and no persisted RDD may remain outside the session
  * memos' pinned frames, so no entry's call can be served by the caches
  * of an earlier one.
  */
class QueriesSmokeSpec extends AnyFunSuite with SparkTest {

  private def touched(from: Map[String, Warehouse.SeedCount],
      to: Map[String, Warehouse.SeedCount]): Set[String] =
    to.keySet.filter(dir => from.get(dir) != to.get(dir))

  private var warmed = Set.empty[String]
  private var sweepFrom = Map.empty[String, Warehouse.SeedCount]

  /** Persisted RDDs no session memo holds, by id and name. */
  private def strayRdds: Map[Int, String] =
    (spark.sparkContext.getPersistentRDDs -- SessionCache.pinnedRdds(spark))
      .map { case (id, rdd) => id -> String.valueOf(rdd.name) }.toMap

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the declared seeds warm") {
    // The sweep starts from empty caches: suites that ran earlier in this
    // JVM call operators directly, outside the runner.
    spark.catalog.clearCache()
    strayRdds.keys.foreach(spark.sparkContext.getPersistentRDDs(_).unpersist(blocking = true))
    val before = Warehouse.seedCounts
    SparkEntry.seeds.foreach(s => CacheScope.scoped(spark)(s.build(spark, sf)))
    sweepFrom = Warehouse.seedCounts
    warmed = touched(before, sweepFrom)
  }

  private val TapRead =
    ("read_parquet\\('" + java.util.regex.Pattern.quote(OracleTap.Root) + "/([^/']+)/").r

  SparkEntry.names.foreach { name =>
    test(s"$name returns rows on sf0.001") {
      val taps = SparkEntry.oracleSql.get(name).toSeq
        .flatMap(TapRead.findAllMatchIn(_).map(_.group(1))).distinct
        .map(new java.io.File(OracleTap.Root, _))
      taps.foreach(Warehouse.deleteRecursively)
      assert(SparkEntry.run(spark, name, sf)(_.count()).get > 0, s"$name returned 0 rows")
      val unwritten = taps.filterNot(_.isDirectory).map(_.getName)
      assert(unwritten.isEmpty,
        s"$name's oracle reads taps its run did not write: ${unwritten.mkString(", ")}")
      val cached = CacheScope.entries(spark).size
      assert(cached == 0, s"$name left $cached CacheManager entries")
      val stray = strayRdds
      assert(stray.isEmpty, s"$name left persisted RDDs: ${stray.values.mkString("; ")}")
    }
  }

  test("the registry sweep touched no seed dir the declared seeds did not") {
    val undeclared = touched(sweepFrom, Warehouse.seedCounts) -- warmed
    assert(undeclared.isEmpty, s"undeclared seeds: ${undeclared.mkString(", ")}")
  }
}
