package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, QueryModule, Tables}

/** The join family. The reference's only join is the FULL OUTER merge
  * (README.md:230-252, covered in graft.cdc); the engine declares the full
  * family. Scale notes:
  *  - equi joins shuffle both sides on the key; AQE converts to broadcast
  *    at runtime when one side is small (dims like nation/region always
  *    are — q_join_broadcast pins the hint explicitly).
  *  - semi/anti joins ship only the key column of the right side.
  *  - the theta/range join is kept within an equi prefix (region key) so
  *    Spark plans a hash join with a residual range condition instead of a
  *    cartesian BNLJ — the pattern that survives scale-up.
  */
object Joins extends QueryModule {

  /** Multi-way star join — TPC-H Q5 shape (revenue by nation for one
    * region and one order year), the canonical analytical join cascade
    * the 2-table entries compose into. Scale design: the two genuinely
    * large inputs (lineitem, orders) meet in ONE shuffle on the orderkey;
    * every dimension arrives pre-reduced — region⋈nation collapses to a
    * broadcast of at most |nation| rows BEFORE touching a fact table, and
    * supplier/customer are left to AQE (broadcast at this SF; at 100 TB
    * they exceed the threshold and AQE plans shuffled joins on their own
    * keys instead — the code does not change). The date filter sits
    * directly on the orders scan so pushdown prunes row groups scan-side.
    */
  private def starJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Tables(spark, sfDir, "nation").as("n")
      .join(Tables(spark, sfDir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val orders = Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val sup = Tables(spark, sfDir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val cust = Tables(spark, sfDir, "customer").select(col("c_custkey"), col("c_nationkey"))
    li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("rev")), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private def joinInner(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val c = Tables(spark, sfDir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"), col("o_totalprice"), col("c_mktsegment"))
      .orderBy("o_orderkey")
  }

  private def joinLeft(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
  }

  private def joinRight(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val c = Tables(spark, sfDir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
  }

  private def joinSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  private def joinAnti(spark: SparkSession, sfDir: String): DataFrame = {
    // Filtered right side so the result is non-empty at every SF (every
    // customer has some order, not every customer has an open 'P' order).
    val c = Tables(spark, sfDir, "customer")
    val o = Tables(spark, sfDir, "orders").filter(col("o_orderstatus") === "P")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  private def joinThetaRange(spark: SparkSession, sfDir: String): DataFrame = {
    // Non-equi join with an equi prefix: pairs of nations in the same
    // region, ordered by key — hash join on region + residual `<` filter.
    val n1 = Tables(spark, sfDir, "nation").alias("n1")
    val n2 = Tables(spark, sfDir, "nation").alias("n2")
    n1.join(n2,
        col("n1.n_regionkey") === col("n2.n_regionkey") &&
          col("n1.n_nationkey") < col("n2.n_nationkey"))
      .select(
        col("n1.n_regionkey").as("rk"),
        col("n1.n_name").as("a_name"),
        col("n2.n_name").as("b_name"))
      .orderBy("rk", "a_name", "b_name")
  }

  /** Pure band (theta) join via BINNING — the scale path Spark's planner
    * doesn't pick on its own: `|s_acctbal − c_acctbal| < W` has no equi
    * key, so the naive plan is a BroadcastNestedLoopJoin that compares
    * every pair (O(n·m) — receipted). Binning rewrites it as an EQUI
    * join: each row buckets at floor(bal/W); any pair within W differs
    * by at most one bucket, so exploding ONE side to its 3 adjacent
    * buckets and hash-joining on the bucket finds every candidate with
    * zero false dismissals and no duplicate pairs (the other side keeps
    * a single bucket — a pair meets on exactly that bucket); the exact
    * band predicate then filters residually. At 100 TB this is a plain
    * co-partitioned shuffle join on the bucket key (AQE skew-splits hot
    * buckets), with candidate work ∝ matched density instead of n·m —
    * the same bucket-then-verify shape as the LSH/banding dedups.
    */
  private[graft] val RangeBinW = 10.0

  private[graft] def joinRangeBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val w = RangeBinW
    val s = Tables(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_acctbal"),
        floor(col("s_acctbal") / w).as("b"))
      .select(col("s_suppkey"), col("s_acctbal"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bin"))
    val c = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_acctbal"),
        floor(col("c_acctbal") / w).as("bin"))
    s.join(c, "bin")
      .filter(abs(col("s_acctbal") - col("c_acctbal")) < w)
      .select(col("s_suppkey"), col("c_custkey"),
        round(abs(col("s_acctbal") - col("c_acctbal")), 2).as("gap"))
      .orderBy("s_suppkey", "c_custkey")
  }

  /** The naive pure-theta twin (BroadcastNestedLoopJoin) — the O(n·m)
    * baseline q_join_range_binned must match row-for-row (JoinsSpec).
    */
  private[graft] def joinRangeNaive(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "supplier").select(col("s_suppkey"), col("s_acctbal"))
      .join(Tables(spark, sfDir, "customer").select(col("c_custkey"), col("c_acctbal")),
        abs(col("s_acctbal") - col("c_acctbal")) < RangeBinW)
      .select(col("s_suppkey"), col("c_custkey"),
        round(abs(col("s_acctbal") - col("c_acctbal")), 2).as("gap"))
      .orderBy("s_suppkey", "c_custkey")

  private def joinBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    // Dim tables pinned broadcast: no shuffle of the fact side at all.
    val c = Tables(spark, sfDir, "customer")
    val n = Tables(spark, sfDir, "nation")
    val r = Tables(spark, sfDir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy("r_name")
  }

  /** Deliberately skewed fact join — the canonical hot-key shape: 90% of
    * lineitem rows collapse onto orderkey 1 while the rest keep their
    * key, then join against orders. At scale the hot hash partition
    * would straggle one executor; AQE's OptimizeSkewedJoin splits it at
    * runtime into advisory-sized sub-partitions (the dim side is
    * replicated to each split). The semantics are plain inner-join-agg —
    * oracle-checked — and the runtime skew split (`skew=true` on the
    * SortMergeJoin) is pinned in PlanSpec with demo-scale thresholds
    * (production keeps the 256 MB default).
    */
  private def joinSkew(spark: SparkSession, sfDir: String): DataFrame = {
    // repartition(32): AQE can split a skewed reduce partition only at
    // MAP-output boundaries. The single-row-group fixture parquet yields
    // ONE effective mapper (nothing to split); the round-robin exchange
    // restores the many-mapper shape a real cluster scan always has.
    val fact = Tables(spark, sfDir, "lineitem")
      .select(
        when(col("l_orderkey") % 10 =!= 0, lit(1L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_quantity"))
      .repartition(32)
    val o = Tables(spark, sfDir, "orders")
    fact.join(o, fact("k") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** Event-time interval join (view→click attribution): each click pairs
    * with the same user's views from the preceding hour. Kept as an equi
    * join on user_id with a residual time-range predicate — hash/SMJ on
    * the key, never a cartesian. This is the batch twin of
    * s_join_interval, which runs the identical semantics as a watermarked
    * stream-stream join.
    */
  private def intervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "events")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    clicks.join(views,
        expr("user_id = v_user AND view_ts <= click_ts AND view_ts > click_ts - INTERVAL 60 MINUTE"))
      .select(col("user_id"), col("click_id"), col("view_id"), col("click_ts"), col("view_ts"))
      .orderBy("user_id", "click_id", "view_id")
  }

  /** Bloom-prefiltered join — the runtime-filter pattern made explicit:
    * the selective dim side (high-balance customers, ~1/3 of the table)
    * builds a bloom filter over its join keys (one distributed aggregate;
    * the resulting bitset is a few KB), the filter rides to every fact
    * scan task in the UDF closure, and fact rows that cannot match are
    * dropped BEFORE the join's exchange. At 100 TB this is the difference
    * between shuffling the whole fact table and shuffling the ~selectivity
    * fraction that can join. False positives (fpp 1%) pass the prefilter
    * but are eliminated by the exact join, so the result — and the oracle
    * — are exactly the plain join's. Spark's own InjectRuntimeFilter does
    * this automatically for suitable shapes; the explicit form works for
    * any dim predicate and documents the mechanics.
    */
  /** Bloom filter over `keyCol`, sized from the dim side's ACTUAL
    * cardinality (one cheap count action, same pattern as annPairs'
    * signature sizing): a constant capacity saturates once the dim
    * outgrows it — fpp degrades toward 1 and the prefilter silently stops
    * pruning (correct results via the exact join, scale value lost). The
    * floor keeps tiny dims from under-sizing below useful resolution.
    */
  private[graft] def bloomFor(dim: DataFrame, keyCol: String)
      : org.apache.spark.util.sketch.BloomFilter = {
    val n = math.max(1024L, dim.count())
    dim.stat.bloomFilter(keyCol, expectedNumItems = n, fpp = 0.01)
  }

  private def joinBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Tables(spark, sfDir, "customer")
      .filter(col("c_acctbal") > 6000)
      .select(col("c_custkey"), col("c_mktsegment"))
    val bf = bloomFor(dim, "c_custkey")
    val mightContain = udf { (k: java.lang.Long) =>
      k != null && bf.mightContain(k.longValue())
    }
    val o = Tables(spark, sfDir, "orders")
    o.filter(mightContain(col("o_custkey")))
      .join(dim, o("o_custkey") === dim("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy("c_mktsegment")
  }

  /** Explicit key-salting, two-path form — the skew remedy that works
    * where AQE's runtime split can't reach (first-shuffle aggregations,
    * stateful streaming keys, engines without runtime re-planning):
    *
    *  1. discover hot keys (here an exact partial-agg count whose shuffle
    *     is keys-sized; production substitutes table stats or a sketch);
    *  2. HOT path: fact rows on hot keys get a DETERMINISTIC salt (from a
    *     data column, never rand() — retries must land rows in the same
    *     sub-partition) and only the hot dim rows replicate S ways, so
    *     the join exchange hash-partitions on (k, salt) — pinned in
    *     PlanSpec — giving each hot key S-way parallelism;
    *  3. COLD path: everything else joins plain;
    *  4. union, then aggregate.
    *
    * Salting ONLY the hot keys is what makes this scale: replicating the
    * whole dim S-ways (the naive formulation) multiplied the dim shuffle
    * by S and ran 5x slower than AQE at 20x; this form replicates
    * |hot keys| x S rows — bytes, not gigabytes. Semantics are exactly
    * the plain join (same oracle as q_join_skew, which solves the same
    * shape with AQE).
    */
  private def joinSalted(spark: SparkSession, sfDir: String): DataFrame = {
    val S = 8
    val fact = Tables(spark, sfDir, "lineitem")
      .select(
        when(col("l_orderkey") % 10 =!= 0, lit(1L))
          .otherwise(col("l_orderkey")).as("k"),
        pmod(col("l_linenumber"), lit(S)).cast("int").as("salt"),
        col("l_quantity"))
    // Hot-key discovery: keys holding >1% of the fact (top-100 cap — skew
    // means FEW hot keys by definition, so the collected set stays tiny).
    val counts = fact.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n"))).head().getLong(0)
    val hotKeys: Seq[Long] = counts
      .filter(col("n") > math.max(1000L, total / 100))
      .orderBy(col("n").desc, col("k")).limit(100)
      .collect().map(_.getLong(0)).toSeq
    val dim = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val hotDim = dim.filter(col("o_orderkey").isin(hotKeys: _*))
      .select(col("o_orderkey"), col("o_orderpriority"),
        explode(array((0 until S).map(i => lit(i)): _*)).as("dsalt"))
    // shuffle_hash hint: at fixture scale Spark would broadcast both dim
    // sides and no shuffle would exist to salt — but salting is the
    // technique for exactly the case where nothing is broadcast-able, so
    // the demo forces the shuffle join that case would plan.
    val hotJoined = fact.filter(col("k").isin(hotKeys: _*))
      .join(hotDim.hint("shuffle_hash"),
        col("k") === col("o_orderkey") && col("salt") === col("dsalt"))
      .select(col("o_orderpriority"), col("l_quantity"))
    val coldJoined = fact.filter(!col("k").isin(hotKeys: _*))
      .join(dim.hint("shuffle_hash"), col("k") === col("o_orderkey"))
      .select(col("o_orderpriority"), col("l_quantity"))
    hotJoined.unionByName(coldJoined)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** Shared by q_interval_join and the stream-stream twin s_join_interval. */
  private[graft] val intervalOracle: String = """
      SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
             c.ts AS click_ts, v.ts AS view_ts
      FROM events c JOIN events v
        ON c.user_id = v.user_id AND c.event_type = 'click' AND v.event_type = 'view'
       AND v.ts <= c.ts AND v.ts > c.ts - INTERVAL 60 MINUTE
      ORDER BY 1, 2, 3"""

  override val defs: Map[String, QueryDef] = Map(
    "q_star_join" -> QueryDef(starJoin, Some("""
      SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name""")),
    "q_interval_join" -> QueryDef(intervalJoin, Some(intervalOracle)),
    "q_join_bloom" -> QueryDef(joinBloom, Some("""
      SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_acctbal > 6000
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),
    "q_join_salted" -> QueryDef(joinSalted, Some("""
      WITH fact AS (
        SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 1 ELSE l_orderkey END AS k,
               l_quantity
        FROM lineitem)
      SELECT o_orderpriority, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      FROM fact JOIN orders ON k = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),
    "q_join_skew" -> QueryDef(joinSkew, Some("""
      WITH fact AS (
        SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 1 ELSE l_orderkey END AS k,
               l_quantity
        FROM lineitem)
      SELECT o_orderpriority, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      FROM fact JOIN orders ON k = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),
    "q_join_inner" -> QueryDef(joinInner, Some("""
      SELECT o_orderkey, c_name, o_totalprice, c_mktsegment
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey""")),
    "q_join_left" -> QueryDef(joinLeft, Some("""
      SELECT c_custkey, c_name, o_orderkey, o_totalprice
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      ORDER BY c_custkey, o_orderkey NULLS FIRST""")),
    "q_join_right" -> QueryDef(joinRight, Some("""
      SELECT c_custkey, c_name, o_orderkey, o_totalprice
      FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
      ORDER BY c_custkey, o_orderkey NULLS FIRST""")),
    "q_join_semi" -> QueryDef(joinSemi, Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      ORDER BY c_custkey""")),
    "q_join_anti" -> QueryDef(joinAnti, Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
      ORDER BY c_custkey""")),
    "q_join_theta_range" -> QueryDef(joinThetaRange, Some("""
      SELECT n1.n_regionkey AS rk, n1.n_name AS a_name, n2.n_name AS b_name
      FROM nation n1 JOIN nation n2
        ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
      ORDER BY rk, a_name, b_name""")),
    "q_join_range_binned" -> QueryDef(joinRangeBinned, Some("""
      SELECT s_suppkey, c_custkey, round(abs(s_acctbal - c_acctbal), 2) AS gap
      FROM supplier, customer
      WHERE abs(s_acctbal - c_acctbal) < 10.0
      ORDER BY s_suppkey, c_custkey""")),
    "q_join_broadcast" -> QueryDef(joinBroadcast, Some("""
      SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""")))
}
