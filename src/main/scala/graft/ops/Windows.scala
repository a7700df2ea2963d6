package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, QueryModule, Tables}

/** Window-function family. R11 (`row_number` latest-state, README.md:244)
  * lives in graft.cdc; this module covers the general analytic surface.
  * Each window = one shuffle on the partition key + in-partition sort;
  * consecutive windows over the same (partitionBy, orderBy) reuse the
  * exchange. Ranking outputs are cast to BIGINT for oracle schema parity
  * (DuckDB window functions return BIGINT).
  */
object Windows extends QueryModule {

  private def winRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables(spark, sfDir, "part")
      .select(
        col("p_brand"), col("p_partkey"), col("p_retailprice"),
        rank().over(w).cast(LongType).as("rnk"),
        dense_rank().over(w).cast(LongType).as("drnk"),
        ntile(4).over(w).cast(LongType).as("quartile"))
      .orderBy("p_brand", "p_partkey")
  }

  /** Distribution window functions — percent_rank and cume_dist, the
    * relative-position family complementing q_win_rank's ordinal ranks
    * (where does this order sit within its priority class?). Both are
    * exact integer ratios ((rank-1)/(n-1), rows_le/n) evaluated in one
    * double division, so the cross-engine compare needs no rounding —
    * bit-identical by construction. Same single-exchange window shape as
    * every other entry in this family.
    */
  private def winDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .select(
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** PER-PARTITION quartile assignment (`ntile(4)`) with a per-bucket
    * rollup — the partitioned form is the scale-legitimate ntile: each
    * o_orderpriority group sorts within its own hash partition (one
    * co-partitioned exchange, same shape as the rest of this family).
    * The GLOBAL form is deliberately absent — a no-partition ntile is a
    * single-partition total sort, and the global-binning need is served
    * by q_quantile_bins' sketch boundaries instead. The (price, key)
    * order is total, so bucket membership is engine-identical; both
    * engines implement standard ntile (first n mod k buckets take the
    * extra row), which the rollup's count column pins.
    */
  private def winNtile(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"))
      .groupBy("o_orderpriority", "quartile")
      .agg(
        count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy("o_orderpriority", "quartile")
  }

  private def winLagLead(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(spark, sfDir, "events")
      .select(
        col("user_id"), col("event_id"),
        round(col("value"), 2).as("value"),
        round(lag(col("value"), 1).over(w), 2).as("prev_value"),
        round(lead(col("value"), 1).over(w), 2).as("next_value"))
      .orderBy("user_id", "event_id")
  }

  private def winRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, sfDir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private def topkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    // k>1 generalization of the reference's keep-rank-1 compaction
    // (README.md:251). At scale this is the shuffle-once pattern; a
    // cluster-size k would instead use a partial top-k before the shuffle.
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rn")
  }

  /** Value-based (RANGE) frame over event time: trailing-30-day spend per
    * customer. Unlike ROWS frames, the frame bound follows the ORDER BY
    * VALUE, so duplicate dates share one frame and the result is
    * deterministic without a tiebreaker. The sum runs over exact
    * DECIMAL and is cast to DOUBLE at the end: both engines then emit
    * the double of the same exact decimal, instead of accumulating
    * doubles in engine-specific association order (DuckDB's segment-tree
    * frames associate differently than Spark's sliding accumulation).
    */
  private def winRangeFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .selectExpr(
        "o_custkey", "o_orderkey", "o_orderdate",
        """CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d""",
        """CAST(count(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS BIGINT) AS n_30d""")
      .orderBy("o_custkey", "o_orderkey")

  private def sortLimit(spark: SparkSession, sfDir: String): DataFrame =
    // Spark plans orderBy().limit(n) as TakeOrderedAndProject: per-partition
    // top-n then a single driver merge of n*partitions rows — never a full
    // global sort. The tiebreaker makes the result deterministic.
    Tables(spark, sfDir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** 2-D skyline (Pareto frontier): the parts no other part dominates on
    * (cheaper-or-equal price, larger-or-equal size, strict somewhere) —
    * the multi-criteria shortlist query (best price/size tradeoffs).
    *
    * Scale shape — NOT the O(n²) dominance self-join the definition
    * suggests: stage 1 reduces the table to one row per distinct price
    * via a fully-parallel hash agg (per-price max size); stage 2 runs
    * the strict-running-max window over that REDUCED set (≤ distinct
    * prices rows — metadata-scale, so the unpartitioned window sort is
    * over thousands of rows, not the table); stage 3 joins the surviving
    * (price, best size) frontier back to recover member part ids —
    * a broadcast-sized join. Equal (price, size) twins both survive
    * (neither strictly dominates). The oracle is the independent
    * NOT EXISTS dominance formulation, so the window rewrite is verified
    * against the definition itself.
    *
    * Staged skyline over any (p_partkey, p_retailprice, p_size) frame —
    * shared by the registry entry and the at-scale receipt.
    */
  private[graft] def skylineOn(part: DataFrame): DataFrame = {
    // Renamed columns break the self-join lineage ambiguity (frontier is
    // derived from part and joined back against it).
    val perPrice = part.select(col("p_retailprice").as("f_price"), col("p_size"))
      .groupBy("f_price").agg(max(col("p_size")).as("best_size"))
    // Distinct prices only — the global (single-partition) window is
    // deliberate: the windowed set is the reduced per-price frontier,
    // bounded by price cardinality. (A constant partition key would not
    // help: Spark 4's EliminateWindowPartitions folds it away.) The
    // plan golden pins gw=1 here; an accidental global window over a
    // data-sized frame fails PlanGoldenSpec.
    val w = Window.orderBy(col("f_price")).rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perPrice
      .withColumn("cheaper_best", max(col("best_size")).over(w))
      .filter(col("cheaper_best").isNull || col("best_size") > col("cheaper_best"))
    part.join(frontier,
        part("p_retailprice") === frontier("f_price") &&
          part("p_size") === frontier("best_size"))
      .select(part("p_partkey"), part("p_retailprice"), part("p_size"))
      .orderBy("p_retailprice", "p_partkey")
  }

  private def skyline(spark: SparkSession, sfDir: String): DataFrame =
    skylineOn(Tables(spark, sfDir, "part"))

  override val defs: Map[String, QueryDef] = Map(
    "q_skyline" -> QueryDef(skyline, Some("""
      SELECT p_partkey, p_retailprice, p_size FROM part p
      WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      ORDER BY p_retailprice, p_partkey""")),
    "q_win_ntile" -> QueryDef(winNtile, Some("""
      WITH t AS (
        SELECT o_orderpriority, o_totalprice,
               ntile(4) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS quartile
        FROM orders)
      SELECT o_orderpriority, quartile, count(*) AS n,
             round(min(o_totalprice), 2) AS lo,
             round(max(o_totalprice), 2) AS hi
      FROM t GROUP BY o_orderpriority, quartile
      ORDER BY o_orderpriority, quartile""")),
    "q_win_rank" -> QueryDef(winRank, Some("""
      SELECT p_brand, p_partkey, p_retailprice,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk,
             ntile(4) OVER w AS quartile
      FROM part
      WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
      ORDER BY p_brand, p_partkey""")),
    "q_win_distribution" -> QueryDef(winDistribution, Some("""
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cume
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_orderpriority, o_orderkey""")),
    "q_win_lag_lead" -> QueryDef(winLagLead, Some("""
      SELECT user_id, event_id, round(value, 2) AS value,
             round(lag(value, 1) OVER w, 2) AS prev_value,
             round(lead(value, 1) OVER w, 2) AS next_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id""")),
    "q_win_running" -> QueryDef(winRunning, Some("""
      SELECT o_custkey, o_orderkey, o_orderdate,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      FROM orders
      ORDER BY o_custkey, o_orderkey""")),
    "q_topk_per_group" -> QueryDef(topkPerGroup, Some("""
      SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn <= 3
      ORDER BY o_custkey, rn""")),
    "q_win_range_frame" -> QueryDef(winRangeFrame, Some("""
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trailing_30d,
             count(*) OVER w AS n_30d
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""")),
    "q_sort_limit" -> QueryDef(sortLimit, Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")))
}
