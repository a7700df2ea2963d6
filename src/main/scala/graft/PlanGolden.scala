package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}

import graft.core.SessionConf

/** Registry-wide physical-plan fingerprint: the 100 TB-relevant shape of
  * a query's static plan — shuffle/broadcast exchange counts, join
  * strategies (with join type), TakeOrderedAndProject presence, and
  * map-side partial aggregation — reduced to one canonical string per
  * registry entry.
  *
  * PlanSpec pins these properties for individually-chosen entries; the
  * golden file (src/test/resources/plan_golden.tsv, regenerated via
  * GRAFT_REGEN_GOLDEN=1) extends the guard to EVERY entry wholesale, so
  * a refactor that silently turns a broadcast join into a SortMergeJoin
  * or drops a partial aggregate anywhere in the registry fails
  * PlanGoldenSpec with a per-entry diff.
  *
  * Fingerprints are taken with AQE disabled (scoped): the static plan is
  * the deterministic planner output; AQE rewrites (coalescing, runtime
  * BHJ) are runtime- and size-dependent and are pinned separately where
  * they matter (q_join_skew's skew split in PlanSpec).
  */
object PlanGolden {

  case class Fp(shuffles: Int, broadcasts: Int, joins: Seq[String],
      takeOrdered: Boolean, partialAgg: Boolean, globalWindows: Int) {
    def render: String = {
      val js = if (joins.isEmpty) "-" else joins.sorted.mkString(",")
      s"sh=$shuffles bc=$broadcasts top=${b(takeOrdered)} pagg=${b(partialAgg)} " +
        s"gw=$globalWindows joins=$js"
    }
    private def b(v: Boolean): String = if (v) "1" else "0"
  }

  /** A plan's nodes, its subqueries' included. */
  private[graft] def walk(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.subqueries).flatMap(walk)

  /** Plan (but do not execute) the named registry entry and fingerprint
    * its static physical plan. The query function itself may execute
    * internal actions (streaming micro-batches, k-means seeding, file
    * seeds) — those run as they would under Verify; only the RETURNED
    * DataFrame's plan is fingerprinted.
    */
  def fingerprint(spark: SparkSession, name: String, sfDir: String): Fp =
    SessionConf.scoped(spark, "spark.sql.adaptive.enabled", "false") {
      // Fingerprint from a cache-free planner state: a frame still cached
      // by code that ran outside the entry runner in this JVM (a spec, say)
      // matches later plans as InMemoryRelation, whose accurate small
      // stats flip SortMergeJoin→Broadcast, so the fingerprint would
      // depend on suite ORDER (caught r12). The runner releases what the
      // entry itself caches.
      spark.catalog.clearCache()
      SparkEntry.run(spark, name, sfDir) { df =>
        val nodes = walk(df.queryExecution.executedPlan)
        Fp(
          shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
          broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
          joins = nodes.collect {
            case j: BaseJoinExec => s"${j.getClass.getSimpleName.stripSuffix("Exec")}(${j.joinType})"
          },
          takeOrdered = nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
          partialAgg = nodes.exists {
            case a: BaseAggregateExec =>
              a.aggregateExpressions.exists(e => e.mode == Partial || e.mode == PartialMerge)
            case _ => false
          },
          // Unpartitioned (single-partition) windows: legitimate ONLY over
          // frames that are metadata-scale by construction (a reduced
          // per-category counts table, a ≤100-row retrieved list). The
          // golden pins the count per entry, so an accidental global
          // window over a data-sized frame FAILS PlanGoldenSpec instead of
          // scrolling by as a WindowExec log warning (which the shared
          // test session silences for exactly this reason — see SparkTest).
          globalWindows = nodes.count {
            case w: org.apache.spark.sql.execution.window.WindowExec =>
              w.partitionSpec.isEmpty
            case _ => false
          })
      }.get
    }

  def renderAll(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    SparkEntry.names.sorted.map(name => name -> fingerprint(spark, name, sfDir).render)
}
