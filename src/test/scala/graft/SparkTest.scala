package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs — one JVM-wide session, UTC, small
  * shuffle partition count for tiny fixtures.
  */
trait SparkTest {
  lazy val spark: SparkSession = SparkTest.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkTest {
  /** The shared spec session's conf, pinned by HarnessSpec. */
  val conf: Map[String, String] =
    graft.core.Harness.conf("local[4]", 4, splitSmallFiles = false)

  lazy val session: SparkSession = {
    // The certified conf (core.Harness) at spec width: the production
    // RocksDB state store and codegen-cache sizing, so specs certify the
    // configuration that runs at scale. No 4m split cap — spec inputs
    // are tiny.
    val s = graft.core.Harness.start(conf)
    // The registry's four DELIBERATE metadata-scale global windows
    // (skyline's per-price frontier, string-index's category rank,
    // hybrid-rank's two ≤100-row RRF lists) would spam WindowExec's
    // "No Partition Defined" warning ~50× per suite run, training
    // readers to ignore it. The guard is structural instead: the plan
    // golden pins a gw= (global-window) count per entry, so an
    // ACCIDENTAL global window fails PlanGoldenSpec with a diff — a
    // strictly stronger signal than a log line. With that pin in place,
    // the warning carries no information in the test log and is
    // silenced for the shared test session only (Verify/Bench logs
    // keep it).
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
