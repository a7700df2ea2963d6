package graft

/** Local profiling harness (not part of the driver contract): time selected
  * queries twice (cold/warm) to separate JIT/IO warmup from plan cost.
  * Each run is one `SparkEntry.timed` call, as in Bench, so the warm run
  * finds no cache the cold run left behind.
  * Usage: runMain graft.Profile <sfDir> <query>[,query...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_NOTAP=1 profiles the production (Bench) form — oracle
    // taps replaced by in-memory materialization, see ext.OracleTap.
    if (sys.env.contains("SPARK_GRAFT_NOTAP"))
      System.setProperty("graft.tap.disabled", "true")
    // Same measurement substrate as Bench (see its disclosure).
    val shm = graft.core.TempDirs.enableMeasurementScratch()
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    // Session conf lives in core.Harness (one certified base for all
    // mains). Profile's deltas: big driver results (streaming entries
    // verify through a memory sink; at 100x an O(input)-output entry
    // like s_scd2 trips the 1g collect cap) and the measurement scratch.
    val spark = graft.core.Harness.session("32",
      bigDriverResults = true,
      measurementScratch = shm)
    // SPARK_GRAFT_JITPASS=1 replicates Bench's pre-timing state (through
    // Bench's own warmPreTimingState), so a first-timed-run cost seen
    // only inside Bench sweeps can be reproduced in isolation.
    if (sys.env.contains("SPARK_GRAFT_JITPASS"))
      Bench.warmPreTimingState(spark, sfDir, tag = "profile")
    for (name <- names; i <- 1 to 2) {
      val ran = SparkEntry.timed(spark, name, sfDir)
      println(f"[profile] $name run$i: ${ran.seconds}%.2f s (${ran.get} rows)")
    }
    spark.stop()
  }
}
