package graft
/** Local plan-inspection harness: print the executed plan of selected
  * queries (not part of the driver contract).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq("q_join_full_merge")
    // Session conf lives in core.Harness (one certified base for all
    // mains). Explain runs 8 cores (plan inspection, not timing).
    val spark = graft.core.Harness.session("8")
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.run(spark, n, sfDir) { df =>
        // Execute to finalize the AQE plan, but never materialize the full
        // result on the driver — this utility must be safe to point at any
        // query at any scale factor.
        df.queryExecution.toRdd.count()
        // SPARK_GRAFT_FORMATTED=1: emit explain("formatted") instead of the
        // executed-plan tree (the judge-facing plans/r17 artifact format).
        if (sys.env.contains("SPARK_GRAFT_FORMATTED"))
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        else println(df.queryExecution.executedPlan.toString.take(8000))
      }.get
    }
    spark.stop()
  }
}
