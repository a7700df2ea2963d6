package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{QueryDef, QueryModule, Tables}

/** Declarative data-quality rule suite (the Deequ/expectations shape) —
  * the audit a 100 TB ingest runs before promoting a batch. The
  * reference pipeline trusts its input; a production lake can't, so this
  * is part of the declared large-scale extension surface (SURVEY §2.2).
  *
  * Execution shape — the only one that survives scale: ALL row-local
  * rules (completeness, ranges, accepted sets) fold into ONE conditional
  * aggregate over a single scan (each rule is a `sum(when(...))` column,
  * so 5 rules cost exactly what 1 costs: one pass, one tiny partial-agg
  * buffer per partition, no shuffle of rows). The two rules that are
  * genuinely not row-local each ship only keys: primary-key uniqueness
  * is a groupBy on the key columns (digest-level shuffle, map-side
  * combined), and referential integrity is a key-only left-anti join
  * whose orders side AQE broadcast-picks while it fits. The rule
  * verdicts are assembled declaratively (crossJoin of three 1-row
  * aggregates + posexplode), so the whole suite is one job with no
  * driver-side loop.
  *
  * Determinism: `pass_ratio` is floor-truncated to 6 dp (both engines
  * compute the same IEEE quotient, and floor is exact — no HALF_UP
  * boundary risk); `n_violations` and `passed` are exact integers.
  * Null semantics are airtight on both sides: a NULL in a range/set
  * rule counts as a violation (Spark's `otherwise` leg; the oracle's
  * `IS NOT TRUE`).
  */
object Quality extends QueryModule {

  private def dqRules(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val orders = Tables(spark, sfDir, "orders")
    // One scan: every row-local rule is a conditional-count column.
    val local = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_ship"),
      sum(when(col("l_quantity").between(1, 50), 0L).otherwise(1L)).as("v_qty"),
      sum(when(col("l_discount").between(0.0, 0.1), 0L).otherwise(1L)).as("v_disc"),
      sum(when(col("l_extendedprice") > 0, 0L).otherwise(1L)).as("v_price"),
      sum(when(col("l_returnflag").isin("A", "N", "R"), 0L).otherwise(1L)).as("v_flag"))
    // Key-digest shuffle only: duplicate-PK violation rows = sum(c-1).
    val dup = li.groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") - 1), lit(0L)).as("v_dup"))
    // Key-only anti join: rows referencing a missing order.
    val fk = li.groupBy("l_orderkey").agg(count(lit(1)).as("c"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(coalesce(sum(col("c")), lit(0L)).as("v_fk"))
    def rule(name: String, viol: Column): Column =
      struct(lit(name).as("rule"), viol.as("v"))
    local.crossJoin(dup).crossJoin(fk)
      .select(col("n"), explode(array(
        rule("accepted_values:l_returnflag", col("v_flag")),
        rule("completeness:l_shipdate", col("v_ship")),
        rule("fk:l_orderkey->orders", col("v_fk")),
        rule("positive:l_extendedprice", col("v_price")),
        rule("range:l_discount[0,0.1]", col("v_disc")),
        rule("range:l_quantity[1,50]", col("v_qty")),
        rule("unique_pk:l_orderkey,l_linenumber", col("v_dup")))).as("r"))
      .select(
        col("r.rule").as("rule"),
        col("r.v").as("n_violations"),
        (floor((col("n") - col("r.v")) / col("n") * 1e6) / 1e6).as("pass_ratio"),
        (col("r.v") === 0).as("passed"))
      .orderBy("rule")
  }

  /** Rule-based row routing (quarantine) — the WRITE side of the DQ
    * suite: every row evaluates the five row-local rules in one scan,
    * a violating row is routed to quarantine tagged with ALL its
    * violated-rule reasons. The entry emits the per-reason quarantine
    * stats plus a `zz_total_quarantined` row (distinct bad rows) —
    * computed in the SAME single pass by appending a synthetic reason
    * to every non-empty reason array before the explode, so no second
    * scan and no distinct. Clean rows have an empty array and never
    * enter the explode at all — at 100 TB the quarantine leg's cost is
    * proportional to the BAD rows, which is the point of the design.
    */
  private def dqQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    // The fixture is CLEAN (good news for the fixture, useless for
    // exercising a router), so the batch under audit is a
    // deterministically contaminated copy: every ~97th line (keyed on
    // the PK, reproducible on both engines) gets one of five planted
    // corruption modes. The routing logic itself is exactly what a
    // production gate runs on the raw batch.
    // The key is reduced before the multiply, so no key can overflow it
    // under ANSI (equal to pmod(key * 31 + line, 97) for every key).
    val sel = pmod(pmod(col("l_orderkey"), lit(97L)) * 31 + col("l_linenumber"), lit(97L))
    val mode = pmod(col("l_orderkey") + col("l_linenumber"), lit(5L))
    val li = Tables(spark, sfDir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      when(sel === 0 && mode === 0, lit(null).cast("timestamp"))
        .otherwise(col("l_shipdate")).as("l_shipdate"),
      when(sel === 0 && mode === 1, lit(999.0)).otherwise(col("l_quantity")).as("l_quantity"),
      when(sel === 0 && mode === 2, lit(0.9)).otherwise(col("l_discount")).as("l_discount"),
      when(sel === 0 && mode === 3, lit(-1.0)).otherwise(col("l_extendedprice")).as("l_extendedprice"),
      when(sel === 0 && mode === 4, lit("X")).otherwise(col("l_returnflag")).as("l_returnflag"))
    // Predicates are evaluated as cheap booleans for EVERY row; the
    // string-array assembly (an allocation per row) is guarded behind
    // the any-violation branch, so clean rows — the overwhelming
    // majority — never allocate. when/otherwise branches evaluate
    // lazily under codegen, which is what makes the guard real.
    val vShip = col("l_shipdate").isNull
    val vQty = !col("l_quantity").between(1, 50) || col("l_quantity").isNull
    val vDisc = !col("l_discount").between(0.0, 0.1) || col("l_discount").isNull
    val vPrice = !(col("l_extendedprice") > 0) || col("l_extendedprice").isNull
    val vFlag = !col("l_returnflag").isin("A", "N", "R") || col("l_returnflag").isNull
    val reasons = when(vShip || vQty || vDisc || vPrice || vFlag,
      array_compact(array(
        when(vShip, lit("completeness:l_shipdate")),
        when(vQty, lit("range:l_quantity[1,50]")),
        when(vDisc, lit("range:l_discount[0,0.1]")),
        when(vPrice, lit("positive:l_extendedprice")),
        when(vFlag, lit("accepted_values:l_returnflag")))))
      .otherwise(array().cast("array<string>"))
    li.select(col("l_orderkey"), col("l_linenumber"), reasons.as("rs"))
      .select(col("l_orderkey"), col("l_linenumber"),
        explode(when(size(col("rs")) > 0,
          concat(col("rs"), array(lit("zz_total_quarantined"))))
          .otherwise(col("rs"))).as("reason"))
      .groupBy("reason")
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("min_orderkey"),
        // decimal(38,0) before the *10: a bigint key past ~9.2e17 (or a
        // bigint sum past 2^63) throws ARITHMETIC_OVERFLOW under ANSI.
        sum(col("l_orderkey").cast(DecimalType(38, 0)) * 10 + col("l_linenumber"))
          .as("key_checksum"))
      .orderBy("reason")
  }

  /** Period split for the drift entry: first half of the events month is
    * the baseline distribution, second half the current one.
    */
  private val DriftSplit = "2024-01-16 00:00:00"
  private val DriftBins = 10
  private val DriftBinWidth = 50.0

  /** One-scan fold of an events frame into exact (event_type, bin,
    * ca, cb) period bin counts — the mergeable state shared by the
    * batch entry and the streaming leg (`s_drift_monitor` accumulates
    * exactly these counters per micro-batch; summing partials is exact,
    * so the cumulative PSI equals the full recompute).
    */
  private[graft] def driftCounts(ev: DataFrame): DataFrame =
    ev.select(
        col("event_type"),
        (col("ts") < lit(DriftSplit).cast("timestamp")).as("is_base"),
        least(lit(DriftBins - 1), floor(col("value") / DriftBinWidth)).cast("int").as("bin"))
      .groupBy("event_type", "bin")
      .agg(
        sum(when(col("is_base"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("cb"))

  /** Assemble the smoothed-PSI verdict table from exact (event_type,
    * bin, ca, cb) counts — everything here is |types|·|bins|-sized.
    */
  private[graft] def driftPsi(spark: SparkSession, counts: DataFrame): DataFrame = {
    val scaffold = counts.select("event_type").distinct()
      .crossJoin(spark.range(0, DriftBins).select(col("id").cast("int").as("bin")))
    val dense = scaffold.join(counts, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = dense.groupBy("event_type")
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val pa = (col("ca") + lit(1.0)) / (col("na") + lit(DriftBins.toDouble))
    val pb = (col("cb") + lit(1.0)) / (col("nb") + lit(DriftBins.toDouble))
    val psi = dense.join(tot, "event_type")
      .select(col("event_type"), col("na"), col("nb"),
        ((pb - pa) * log(pb / pa)).as("t"))
      .groupBy("event_type")
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        round(sum(col("t")), 6).as("psi"))
    psi.select(col("event_type"), col("n_a"), col("n_b"), col("psi"),
        when(col("psi") > 0.2, lit("drift"))
          .when(col("psi") > 0.1, lit("watch"))
          .otherwise(lit("stable")).as("verdict"))
      .orderBy("event_type")
  }

  /** Population-stability-index drift monitor: per event_type, compare
    * the `value` distribution of the current period against the baseline
    * period over [[DriftBins]] fixed-width bins, PSI = Σ (p_b − p_a) ·
    * ln(p_b / p_a) with add-one smoothing — the standard
    * feature/label-drift gate a model-training pipeline runs before
    * trusting a new data window.
    *
    * Scale shape: one scan; both periods' bin counts fold into ONE
    * (type, bin) groupBy via conditional sums (no second pass, no
    * self-join of the fact table), so the only row shuffle carries
    * |types|·|bins| digests. The dense scaffold (types × bins — empty
    * bins still contribute to PSI under smoothing when n_a ≠ n_b) and
    * the per-type totals are bounded-size joins on the AGGREGATED frame,
    * never on rows. Fixed-width bins (not quantiles) keep the monitor
    * one-pass and cross-engine exact; the quantile-binned variant is
    * q_quantile_bins' territory.
    *
    * Determinism: counts are exact longs; the 10-term PSI sum is IEEE
    * double rounded to 6 dp, with the verdict CASE applied to the
    * ROUNDED value so the classification can never straddle an engine's
    * last ulp.
    */
  private def dqDrift(spark: SparkSession, sfDir: String): DataFrame =
    driftPsi(spark, driftCounts(Tables(spark, sfDir, "events")))

  /** Shared by q_dq_drift and its streaming leg s_drift_monitor: the
    * cumulative counter merge is exact, so both entries must hash-match
    * the same full recompute.
    */
  private[graft] val driftOracle: String = s"""
      WITH b AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '$DriftSplit' THEN 1 ELSE 0 END AS is_base,
               least(${DriftBins - 1},
                     CAST(floor(value / $DriftBinWidth) AS INTEGER)) AS bin
        FROM events),
      c AS (
        SELECT event_type, bin,
               sum(is_base) AS ca, sum(1 - is_base) AS cb
        FROM b GROUP BY event_type, bin),
      scaffold AS (
        SELECT event_type, CAST(r.range AS INTEGER) AS bin
        FROM (SELECT DISTINCT event_type FROM b), range(0, $DriftBins) r),
      dense AS (
        SELECT s.event_type, s.bin,
               coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
        FROM scaffold s LEFT JOIN c ON c.event_type = s.event_type AND c.bin = s.bin),
      tot AS (
        SELECT event_type, sum(ca) AS na, sum(cb) AS nb
        FROM dense GROUP BY event_type),
      terms AS (
        SELECT d.event_type, t.na, t.nb,
               ((cb + 1.0) / (nb + $DriftBins.0) - (ca + 1.0) / (na + $DriftBins.0)) *
               ln(((cb + 1.0) / (nb + $DriftBins.0)) /
                  ((ca + 1.0) / (na + $DriftBins.0))) AS t
        FROM dense d JOIN tot t ON t.event_type = d.event_type),
      p AS (
        SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
               CAST(max(nb) AS BIGINT) AS n_b, round(sum(t), 6) AS psi
        FROM terms GROUP BY event_type)
      SELECT event_type, n_a, n_b, psi,
             CASE WHEN psi > 0.2 THEN 'drift'
                  WHEN psi > 0.1 THEN 'watch'
                  ELSE 'stable' END AS verdict
      FROM p ORDER BY event_type"""

  override val defs: Map[String, QueryDef] = Map(
    "q_dq_drift" -> QueryDef(dqDrift, Some(driftOracle)),
    "q_dq_quarantine" -> QueryDef(dqQuarantine, Some("""
      WITH c AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN ((l_orderkey % 97) * 31 + l_linenumber) % 97 = 0
                     AND (l_orderkey + l_linenumber) % 5 = 0
                    THEN NULL ELSE l_shipdate END AS l_shipdate,
               CASE WHEN ((l_orderkey % 97) * 31 + l_linenumber) % 97 = 0
                     AND (l_orderkey + l_linenumber) % 5 = 1
                    THEN 999.0 ELSE l_quantity END AS l_quantity,
               CASE WHEN ((l_orderkey % 97) * 31 + l_linenumber) % 97 = 0
                     AND (l_orderkey + l_linenumber) % 5 = 2
                    THEN 0.9 ELSE l_discount END AS l_discount,
               CASE WHEN ((l_orderkey % 97) * 31 + l_linenumber) % 97 = 0
                     AND (l_orderkey + l_linenumber) % 5 = 3
                    THEN -1.0 ELSE l_extendedprice END AS l_extendedprice,
               CASE WHEN ((l_orderkey % 97) * 31 + l_linenumber) % 97 = 0
                     AND (l_orderkey + l_linenumber) % 5 = 4
                    THEN 'X' ELSE l_returnflag END AS l_returnflag
        FROM lineitem),
      r AS (
        SELECT l_orderkey, l_linenumber,
               list_filter([
                 CASE WHEN l_shipdate IS NULL THEN 'completeness:l_shipdate' END,
                 CASE WHEN (l_quantity BETWEEN 1 AND 50) IS NOT TRUE THEN 'range:l_quantity[1,50]' END,
                 CASE WHEN (l_discount BETWEEN 0 AND 0.1) IS NOT TRUE THEN 'range:l_discount[0,0.1]' END,
                 CASE WHEN (l_extendedprice > 0) IS NOT TRUE THEN 'positive:l_extendedprice' END,
                 CASE WHEN (l_returnflag IN ('A','N','R')) IS NOT TRUE THEN 'accepted_values:l_returnflag' END
               ], x -> x IS NOT NULL) AS rs
        FROM c),
      x AS (
        SELECT l_orderkey, l_linenumber, u.reason
        FROM r, unnest(CASE WHEN len(rs) > 0
                            THEN list_append(rs, 'zz_total_quarantined')
                            ELSE rs END) AS u(reason))
      SELECT reason, count(*) AS n_rows,
             min(l_orderkey) AS min_orderkey,
             sum(l_orderkey::DECIMAL(38,0) * 10 + l_linenumber)::DECIMAL(38,0)
               AS key_checksum
      FROM x GROUP BY reason ORDER BY reason""")),
    "q_dq_rules" -> QueryDef(dqRules, Some("""
      WITH n AS (SELECT count(*)::BIGINT AS n FROM lineitem),
      v AS (
        SELECT 'accepted_values:l_returnflag' AS rule,
               count(*) FILTER ((l_returnflag IN ('A','N','R')) IS NOT TRUE)::BIGINT AS v
        FROM lineitem
        UNION ALL
        SELECT 'completeness:l_shipdate',
               count(*) FILTER (l_shipdate IS NULL) FROM lineitem
        UNION ALL
        SELECT 'fk:l_orderkey->orders',
               (SELECT coalesce(sum(c), 0) FROM (
                  SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY l_orderkey) k
                WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = k.l_orderkey))::BIGINT
        UNION ALL
        SELECT 'positive:l_extendedprice',
               count(*) FILTER ((l_extendedprice > 0) IS NOT TRUE) FROM lineitem
        UNION ALL
        SELECT 'range:l_discount[0,0.1]',
               count(*) FILTER ((l_discount BETWEEN 0 AND 0.1) IS NOT TRUE) FROM lineitem
        UNION ALL
        SELECT 'range:l_quantity[1,50]',
               count(*) FILTER ((l_quantity BETWEEN 1 AND 50) IS NOT TRUE) FROM lineitem
        UNION ALL
        SELECT 'unique_pk:l_orderkey,l_linenumber',
               (SELECT coalesce(sum(c - 1), 0) FROM (
                  SELECT count(*) AS c FROM lineitem
                  GROUP BY l_orderkey, l_linenumber) g)::BIGINT)
      SELECT v.rule, v.v AS n_violations,
             floor((n.n - v.v) / n.n * 1e6) / 1e6 AS pass_ratio,
             v.v = 0 AS passed
      FROM v, n ORDER BY rule""")))
}
