package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, QueryModule, Tables}

/** Aggregation family — generalizes the reference's per-key compaction
  * (README.md:238-251) to full hash aggregation. Spark plans every
  * groupBy.agg as partial (map-side) + final aggregation automatically, so
  * the shuffle carries pre-combined rows — the property that matters at
  * 100 TB. Grouping columns here are low-cardinality, so no skew handling
  * is needed; high-cardinality keys rely on AQE skew splitting.
  */
object Aggregates extends QueryModule {

  private def aggGroup(spark: SparkSession, sfDir: String): DataFrame =
    // TPC-H Q1 shape.
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_discount")), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private def aggDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  private def aggApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    // HLL++ sketch: one pass, fixed memory, merges across partitions —
    // the scale path where exact distinct would shuffle every key.
    //
    // Partial-oracle shape (r11): the entry runs the SKETCH ALONE — the
    // timed cost is sketch economics, the very thing the operator exists
    // to demonstrate — and the 5% error envelope (generous vs the
    // lgConfigK=12 rsd of ~1.6%) is enforced entirely oracle-side: DuckDB
    // recomputes the exact distinct counts and its WHERE keeps a group
    // only if the tapped estimate sits inside the envelope, so a breach
    // drops rows and fails the row/hash compare. (The r10 form computed
    // the exact countDistinct INSIDE the timed entry to emit the verdict
    // columns — the entry's cost was dominated by the exact path the
    // sketch exists to avoid.) The estimate's own merge/error properties
    // are SketchSpec's, same split as the MinHash signature kernel.
    val est = Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
    graft.ext.OracleTap(spark, "approx_distinct_est", est)
      .orderBy("l_returnflag")
  }

  private def aggHaving(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
      .filter(col("n_orders") >= 3)
      .orderBy("o_custkey")

  private def aggRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  private def aggCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  private def udafStats(spark: SparkSession, sfDir: String): DataFrame = {
    // Custom typed Aggregator (the UDAF surface): plans with map-side
    // partial aggregation exactly like a built-in — only the 32-byte
    // buffer shuffles per group.
    val stats = udaf(graft.functions.Udafs.StatsAgg)
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(stats(col("l_quantity")).as("s"))
      .select(
        col("l_returnflag"),
        col("s.n_vals").as("n_vals"),
        round(col("s.sum_val"), 2).as("sum_val"),
        col("s.min_val").as("min_val"),
        col("s.max_val").as("max_val"))
      .orderBy("l_returnflag")
  }

  private def aggGsets(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Incremental materialized-view refresh: yesterday's materialized
    * monthly summary plus today's delta aggregate, merged by re-applying
    * the same mergeable aggregates — count merges by sum, sum by sum,
    * min/max by min/max (l_quantity is integer-valued, so the double
    * sums are exact under any association). Refresh cost is
    * O(|delta| + |MV|) instead of O(history) — the only aggregation
    * shape that survives a 100 TB table growing daily. avg is derived
    * from merged (sum, count), never maintained directly (it does not
    * merge). The oracle is the full recompute, which the merge must
    * equal exactly.
    */
  private def mvRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        col("l_returnflag"), col("l_quantity"), col("l_shipdate"))
    def partial(df: DataFrame): DataFrame = df
      .groupBy("ship_month", "l_returnflag")
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"),
        min(col("l_shipdate")).as("first_ship"), max(col("l_shipdate")).as("last_ship"))
    val cutoff = expr("TIMESTAMP '1998-01-01 00:00:00'")
    val mv = partial(li.filter(col("l_shipdate") < cutoff))
    val delta = partial(li.filter(col("l_shipdate") >= cutoff))
    mv.unionByName(delta)
      .groupBy("ship_month", "l_returnflag")
      .agg(sum(col("n_items")).as("n_items"), sum(col("sum_qty")).as("sum_qty"),
        min(col("first_ship")).as("first_ship"), max(col("last_ship")).as("last_ship"))
      .withColumn("avg_qty", floor(col("sum_qty") / col("n_items") * 100) / 100)
      .orderBy("ship_month", "l_returnflag")
  }

  /** Mergeable distinct-count sketches (DataSketches HLL via Spark's
    * hll_sketch_agg / hll_union_agg): one sketch per day, global distinct
    * = estimate of the UNION of the daily sketches. This is the 100 TB
    * distinct-count pattern — history is never re-scanned; a new day adds
    * one partial sketch and the union re-estimates in O(days * 2^lgK).
    * Approximate by nature (measured ~2% at the default lgConfigK=12,
    * and NOT exact even at a few hundred items), so the gate is the
    * same tap+envelope oracle as q_agg_approx_distinct (r11): the entry
    * runs the SKETCH ALONE and taps (n_days, est_users); DuckDB
    * recomputes the exact day count and exact distinct users, and its
    * WHERE keeps the row only if n_days matches exactly and the
    * estimate sits inside a 5% envelope — a breach empties the oracle
    * output and fails the row/hash compare. SketchSpec still pins the
    * merge property (union of partial sketches == one global sketch,
    * the reason this beats count(DISTINCT) at scale).
    */
  private def hllUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val est = Tables(spark, sfDir, "events")
      .withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
      .groupBy("dt")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .agg(
        count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").as("est_users"))
    graft.ext.OracleTap(spark, "hll_union_est", est).orderBy("n_days")
  }

  /** Mergeable frequency sketches (Spark's count_min_sketch aggregate +
    * the spark-sketch CountMinSketch merge): one CMS per day over the
    * event-type stream, daily sketches merged and queried for the known
    * heavy hitters. The 100 TB frequency-tracking pattern, same economics
    * as q_hll_union: history is never re-scanned — a new day contributes
    * one eps-width sketch (here w=2719×d=5 counters), and the driver-side
    * merge is O(days × sketch size), a few KB each. CMS merge is exact
    * (counter-wise sum with a shared seed), so merged estimates ==
    * single-global-sketch estimates — pinned in SketchSpec along with the
    * one-sided error bound (estimate >= true count, <= true + eps·N).
    * At this key cardinality (5 types into 2719 buckets, fixed seed 42)
    * no hash collisions occur, so the estimates are exact and the entry
    * carries a full count-per-type oracle.
    */
  private def cmsHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val daily = Tables(spark, sfDir, "events")
      .withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
      .groupBy("dt")
      .agg(expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").as("cms"))
      .collect() // bounded: one ~54 KB sketch per DAY, never per row
    val merged = daily.map(r => CountMinSketch.readFrom(r.getAs[Array[Byte]]("cms")))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    val types = Seq("click", "error", "purchase", "signup", "view")
    import spark.implicits._
    types.map(t => (t, merged.estimateCount(t)))
      .toDF("event_type", "est_n")
      .orderBy("event_type")
  }

  /** Ordered string aggregation — Spark 4's `listagg ... WITHIN GROUP`
    * (the SQL-standard export/reporting shape: one delimited, ordered
    * string per group). Deliberately group-buffering BY CONTRACT — the
    * output row IS the concatenation — so the at-scale rule is the same
    * as q_ngram_jaccard's bounded pairs: apply it to bounded groups (here
    * a keyed slice of customers); unbounded concatenation is a file sink,
    * not an aggregate. The WITHIN GROUP order makes the result
    * deterministic regardless of partition layout.
    */
  private def listaggNames(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "customer")
      .filter(col("c_custkey") <= 200)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)").as("names"))
      .orderBy("c_mktsegment")

  /** Mergeable top-k sketch (Spark 4's approx_top_k family) — the third
    * leg of the sketch block next to q_hll_union (distinct) and
    * q_cms_heavy_hitters (point frequency): per-day
    * `approx_top_k_accumulate` partials, one `approx_top_k_combine`, one
    * `approx_top_k_estimate` — the heavy-hitter RANKING over history
    * without re-scanning it, entirely inside the SQL engine (no
    * driver-side merge loop like the CMS entry — the combine IS the
    * aggregate, so the only thing that moves is one sketch row per day).
    * At this cardinality (5 event types, default maxItemsTracked 10k) the
    * sketch tracks every item exactly, so the entry carries a full
    * count-per-type oracle; at real cardinality the same plan returns the
    * approximate top k with the same exchanges.
    */
  private def topkSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables(spark, sfDir, "events")
      .withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
      .groupBy("dt")
      .agg(expr("approx_top_k_accumulate(event_type, 5)").as("sk"))
    // coalesce(1), not an exchange: the day partials are a handful of
    // sketch rows, and Spark 4.1.2's ApproxTopKCombine crashes
    // (MatchError on an uninitialized buffer) when an EMPTY partition
    // feeds its partial serialize — AQE usually coalesces the empties
    // away, but a fixed-partition run (AQE off) hits it. One nonempty
    // partition makes the combine layout-independent.
    daily.coalesce(1)
      .agg(expr("approx_top_k_combine(sk)").as("cs"))
      .select(explode(expr("approx_top_k_estimate(cs, 5)")).as("e"))
      .select(col("e.item").as("event_type"), col("e.count").as("n"))
      .orderBy(col("n").desc, col("event_type"))
  }

  /** Grouped statistical profile — corr/covariance/stddev per group, the
    * relationship-audit twin of q_profile_columns' per-column counts (is
    * quantity still predictive of price in this batch?). All of Spark's
    * second-moment aggregates are DeclarativeAggregates over mergeable
    * co-moment buffers (count, means, M2, co-moment), so the plan is one
    * scan + partial/final hash agg — the shuffle carries one small buffer
    * per (group × stat), never rows. Rounding before ORDER BY makes the
    * cross-engine compare exact (co-moment merge order differs between
    * engines only in the last ulps).
    */
  private def statsCorr(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"))
      .orderBy("l_returnflag")

  /** One-scan column-profiling report — the audit a data platform runs on
    * every ingest batch (the reference's operators ASSUME well-formed
    * input; a real deployment gates on a profile like this): per column,
    * row/null/exact-distinct counts plus numeric min/max, emitted as one
    * (col_name, metrics...) row per column via `stack`. The multiple
    * exact distincts plan as ONE scan with an Expand (rows multiply by
    * the distinct-agg count, then partial-aggregate map-side) — the
    * canonical Spark shape; swap countDistinct for approx_count_distinct
    * when a 2% answer is acceptable and the Expand matters.
    */
  private def profileColumns(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "events")
    def nulls(c: String) = count(when(col(c).isNull, 1)).as(s"${c}_nulls")
    def nd(c: String) = countDistinct(col(c)).as(s"${c}_nd")
    val m = e.agg(
      count(lit(1)).as("n_rows"),
      nulls("event_id"), nd("event_id"),
      min(col("event_id")).cast("double").as("event_id_min"),
      max(col("event_id")).cast("double").as("event_id_max"),
      nulls("user_id"), nd("user_id"),
      min(col("user_id")).cast("double").as("user_id_min"),
      max(col("user_id")).cast("double").as("user_id_max"),
      nulls("event_type"), nd("event_type"),
      nulls("value"), nd("value"),
      min(col("value")).as("value_min"), max(col("value")).as("value_max"),
      nulls("ts"), nd("ts"))
    m.select(expr(
      """stack(5,
        |  'event_id',   n_rows, event_id_nulls,   event_id_nd,   event_id_min, event_id_max,
        |  'event_type', n_rows, event_type_nulls, event_type_nd, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'ts',         n_rows, ts_nulls,         ts_nd,         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'user_id',    n_rows, user_id_nulls,    user_id_nd,    user_id_min,  user_id_max,
        |  'value',      n_rows, value_nulls,      value_nd,      value_min,    value_max)
        | AS (col_name, n_rows, n_nulls, n_distinct, min_num, max_num)""".stripMargin))
      .orderBy("col_name")
  }

  override val defs: Map[String, QueryDef] = Map(
    "q_profile_columns" -> QueryDef(profileColumns, Some("""
      WITH m AS (
        SELECT count(*) AS n_rows,
               count(*) FILTER (event_id IS NULL) AS event_id_nulls,
               count(DISTINCT event_id) AS event_id_nd,
               CAST(min(event_id) AS DOUBLE) AS event_id_min,
               CAST(max(event_id) AS DOUBLE) AS event_id_max,
               count(*) FILTER (user_id IS NULL) AS user_id_nulls,
               count(DISTINCT user_id) AS user_id_nd,
               CAST(min(user_id) AS DOUBLE) AS user_id_min,
               CAST(max(user_id) AS DOUBLE) AS user_id_max,
               count(*) FILTER (event_type IS NULL) AS event_type_nulls,
               count(DISTINCT event_type) AS event_type_nd,
               count(*) FILTER (value IS NULL) AS value_nulls,
               count(DISTINCT value) AS value_nd,
               min(value) AS value_min, max(value) AS value_max,
               count(*) FILTER (ts IS NULL) AS ts_nulls,
               count(DISTINCT ts) AS ts_nd
        FROM events)
      SELECT 'event_id' AS col_name, n_rows, event_id_nulls AS n_nulls,
             event_id_nd AS n_distinct, event_id_min AS min_num, event_id_max AS max_num FROM m
      UNION ALL
      SELECT 'event_type', n_rows, event_type_nulls, event_type_nd, NULL, NULL FROM m
      UNION ALL
      SELECT 'ts', n_rows, ts_nulls, ts_nd, NULL, NULL FROM m
      UNION ALL
      SELECT 'user_id', n_rows, user_id_nulls, user_id_nd, user_id_min, user_id_max FROM m
      UNION ALL
      SELECT 'value', n_rows, value_nulls, value_nd, value_min, value_max FROM m
      ORDER BY col_name""")),
    // Partial oracle (r11): the union estimate is tapped; DuckDB
    // recomputes the exact day count and exact distinct users and its
    // WHERE enforces both the exact n_days and a 5% estimate envelope —
    // a breach drops the row and fails the row/hash compare. The timed
    // entry never runs the exact path.
    "q_hll_union" -> QueryDef(hllUnion, Some(s"""
      WITH est AS (SELECT n_days, est_users
                   FROM read_parquet('${graft.ext.OracleTap.Root}/hll_union_est/*.parquet')),
      exact AS (SELECT count(DISTINCT strftime(ts, '%Y%m%d')) AS exact_days,
                       count(DISTINCT user_id) AS exact_users
                FROM events)
      SELECT e.n_days, e.est_users
      FROM est e, exact x
      WHERE e.n_days = x.exact_days
        AND abs(e.est_users - x.exact_users) <= 0.05 * x.exact_users
      ORDER BY n_days""")),
    "q_listagg" -> QueryDef(listaggNames, Some("""
      SELECT c_mktsegment, count(*) AS n,
             string_agg(c_name, ',' ORDER BY c_name) AS names
      FROM customer WHERE c_custkey <= 200
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),
    "q_topk_sketch" -> QueryDef(topkSketch, Some("""
      SELECT event_type, count(*) AS n FROM events
      GROUP BY event_type ORDER BY n DESC, event_type""")),
    "q_stats_corr" -> QueryDef(statsCorr, Some("""
      SELECT l_returnflag, count(*) AS n,
             round(corr(l_quantity, l_extendedprice), 4) + 0 AS corr_qty_price,
             round(covar_samp(l_quantity, l_extendedprice), 2) + 0 AS covar_qty_price,
             round(stddev_samp(l_quantity), 4) AS sd_qty,
             round(stddev_samp(l_extendedprice), 2) AS sd_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),
    "q_cms_heavy_hitters" -> QueryDef(cmsHeavyHitters, Some("""
      SELECT event_type, count(*) AS est_n
      FROM events GROUP BY event_type ORDER BY event_type""")),
    "q_mv_refresh" -> QueryDef(mvRefresh, Some("""
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_returnflag,
             count(*) AS n_items, sum(l_quantity) AS sum_qty,
             min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship,
             floor(sum(l_quantity) / count(*) * 100) / 100 AS avg_qty
      FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),
    "q_agg_group" -> QueryDef(aggGroup, Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 2) AS avg_qty,
             round(avg(l_discount), 2) AS avg_disc,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),
    "q_agg_distinct" -> QueryDef(aggDistinct, Some("""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),
    // Partial oracle (r11): the estimate is tapped; DuckDB recomputes the
    // exact distinct counts and ENFORCES the 5% envelope in its WHERE —
    // an out-of-envelope group vanishes from the oracle output and the
    // row/hash compare fails. The timed entry never runs the exact path.
    "q_agg_approx_distinct" -> QueryDef(aggApproxDistinct, Some(s"""
      WITH est AS (SELECT l_returnflag, approx_parts
                   FROM read_parquet('${graft.ext.OracleTap.Root}/approx_distinct_est/*.parquet')),
      exact AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
                FROM lineitem GROUP BY l_returnflag)
      SELECT e.l_returnflag, e.approx_parts
      FROM est e JOIN exact x USING (l_returnflag)
      WHERE abs(CAST(e.approx_parts AS DOUBLE) - x.exact_parts)
            / x.exact_parts <= 0.05
      ORDER BY e.l_returnflag""")),
    "q_udaf_stats" -> QueryDef(udafStats, Some("""
      SELECT l_returnflag,
             count(l_quantity) AS n_vals,
             round(sum(l_quantity), 2) AS sum_val,
             min(l_quantity) AS min_val,
             max(l_quantity) AS max_val
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),
    "q_agg_having" -> QueryDef(aggHaving, Some("""
      SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY o_custkey HAVING count(*) >= 3
      ORDER BY o_custkey""")),
    "q_agg_rollup" -> QueryDef(aggRollup, Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),
    "q_agg_cube" -> QueryDef(aggCube, Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),
    "q_agg_gsets" -> QueryDef(aggGsets, Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")))
}
