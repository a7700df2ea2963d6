package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Warehouse
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
  */
class QueriesSmokeSpec extends AnyFunSuite with SparkTest {

  private def touched(from: Map[String, Warehouse.SeedCount],
      to: Map[String, Warehouse.SeedCount]): Set[String] =
    to.keySet.filter(dir => from.get(dir) != to.get(dir))

  private var warmed = Set.empty[String]
  private var sweepFrom = Map.empty[String, Warehouse.SeedCount]

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the declared seeds warm") {
    val before = Warehouse.seedCounts
    SparkEntry.seeds.foreach(_.build(spark, sf))
    sweepFrom = Warehouse.seedCounts
    warmed = touched(before, sweepFrom)
  }

  private val TapRead =
    ("read_parquet\\('" + java.util.regex.Pattern.quote(OracleTap.Root) + "/([^/']+)/").r

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name returns rows on sf0.001") {
      val taps = SparkEntry.oracleSql.get(name).toSeq
        .flatMap(TapRead.findAllMatchIn(_).map(_.group(1))).distinct
        .map(new java.io.File(OracleTap.Root, _))
      taps.foreach(Warehouse.deleteRecursively)
      assert(fn(spark, sf).count() > 0, s"$name returned 0 rows")
      val unwritten = taps.filterNot(_.isDirectory).map(_.getName)
      assert(unwritten.isEmpty,
        s"$name's oracle reads taps its run did not write: ${unwritten.mkString(", ")}")
    }
  }

  test("the registry sweep touched no seed dir the declared seeds did not") {
    val undeclared = touched(sweepFrom, Warehouse.seedCounts) -- warmed
    assert(undeclared.isEmpty, s"undeclared seeds: ${undeclared.mkString(", ")}")
  }
}
