package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Shuffle-size receipt tool: run queries with AQE OFF (so the static
  * plan's exchanges are visible and not coalesced away) and print every
  * ShuffleExchangeExec's written data size — the number that decides
  * whether an operator's exchanges carry thin keys (digests, ids, bands)
  * or the full payload at 100 TB. Usage:
  *
  *   runMain graft.Exchanges <sfDir> q_a,q_b
  */
object Exchanges {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    // Session conf lives in core.Harness (one certified base for all
    // mains); Exchanges adds no delta.
    val spark = graft.core.Harness.session("32")
    names.foreach { name =>
      // AQE off per entry (as PlanGolden.fingerprint scopes it): the
      // static plan's exchanges must stay visible and un-coalesced.
      graft.core.SessionConf.scoped(spark, "spark.sql.adaptive.enabled", "false") {
        SparkEntry.run(spark, name, sfDir) { df =>
          df.queryExecution.toRdd.count()
          val exs = PlanGolden.walk(df.queryExecution.executedPlan)
            .collect { case e: ShuffleExchangeExec => e }
          println(s"[exchanges] $name: ${exs.size} shuffles")
          exs.foreach { e =>
            val mb = e.metrics.get("dataSize").map(_.value / 1e6).getOrElse(-1.0)
            println(f"[exchanges]   $mb%.2f MB  ${e.outputPartitioning}")
          }
        }.get
      }
    }
    spark.stop()
  }
}
