package graft

import org.scalatest.funsuite.AnyFunSuite

/** The part of q_join_bloom the oracle cannot see: the bloom filter must
  * be SIZED FROM THE DIM SIDE, not a constant — a saturated constant-
  * capacity bloom keeps the join correct (the exact join eliminates false
  * positives) while silently pruning nothing, which is precisely the
  * failure that only shows up at 100x the dim cardinality.
  */
class JoinsSpec extends AnyFunSuite with SparkTest {

  test("bloom capacity grows with dim cardinality (no constant-size saturation)") {
    import spark.implicits._
    val small = (1L to 1000L).toDF("k")
    val large = (1L to 100000L).toDF("k")
    val bfSmall = graft.ops.Joins.bloomFor(small, "k")
    val bfLarge = graft.ops.Joins.bloomFor(large, "k")
    assert(bfLarge.bitSize() > bfSmall.bitSize(),
      s"expected the 100k-key bloom to out-size the 1k-key bloom " +
        s"(${bfLarge.bitSize()} vs ${bfSmall.bitSize()})")
    // And the sized filter actually holds its fpp: keys outside the dim
    // should almost never pass.
    val falsePos = (200000L to 201000L).count(bfLarge.mightContain)
    assert(falsePos < 50, s"fpp degraded: $falsePos of 1000 foreign keys passed")
  }

  test("binned range join is pair-identical to the naive theta join, with no nested loop") {
    val sfDir = "/root/testdata/sf0.01"
    val binned = graft.ops.Joins.joinRangeBinned(spark, sfDir)
    val naive = JoinsSpec.joinRangeNaive(spark, sfDir)
    // Zero false dismissals, zero duplicates: exactly the naive pair set.
    val b = binned.collect().map(_.toString).toSeq
    val nv = naive.collect().map(_.toString).toSeq
    assert(b.nonEmpty && b == nv,
      s"binned range join diverged: ${b.size} vs ${nv.size} pairs")
    // The rewrite's whole point: an EQUI join on the bucket, not the
    // O(n·m) BroadcastNestedLoopJoin the pure theta predicate forces.
    val binnedPlan = binned.queryExecution.executedPlan.toString
    assert(!binnedPlan.contains("BroadcastNestedLoopJoin"), binnedPlan.take(1500))
    assert(binnedPlan.contains("Join"), binnedPlan.take(1500))
    val naivePlan = naive.queryExecution.executedPlan.toString
    assert(naivePlan.contains("BroadcastNestedLoopJoin"),
      "naive twin no longer exercises the nested-loop baseline: " + naivePlan.take(1500))
  }

  test("binning is exhaustive exactly at the band width boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Adversarial: values straddling bucket boundaries at distances just
    // under/at the band width W=10. Pairs at exactly W are OUTSIDE
    // (strict <); pairs at W−ε across a boundary must be found.
    val svals = Seq(0.0, 9.99, 10.0, 19.99, -0.01)
    val cvals = Seq(9.99, 10.0, 19.99, 20.0, 29.98, -10.0, -0.02)
    val s = svals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("s_suppkey", "s_acctbal")
    val c = cvals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("c_custkey", "c_acctbal")
    val w = graft.ops.Joins.RangeBinW
    val sb = s.select(col("s_suppkey"), col("s_acctbal"), floor(col("s_acctbal") / w).as("b"))
      .select(col("s_suppkey"), col("s_acctbal"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bin"))
    val cb = c.select(col("c_custkey"), col("c_acctbal"), floor(col("c_acctbal") / w).as("bin"))
    val got = sb.join(cb, "bin")
      .filter(abs(col("s_acctbal") - col("c_acctbal")) < w)
      .select(col("s_suppkey"), col("c_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (sv, si) <- svals.zipWithIndex
      (cv, ci) <- cvals.zipWithIndex
      if math.abs(sv - cv) < w
    } yield (si.toLong, ci.toLong)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }
}

object JoinsSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  import graft.core.Tables
  import graft.ops.Joins.RangeBinW

  /** The naive pure-theta twin (BroadcastNestedLoopJoin) — the O(n·m)
    * baseline q_join_range_binned must match row-for-row (JoinsSpec).
    */
  def joinRangeNaive(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "supplier").select(col("s_suppkey"), col("s_acctbal"))
      .join(Tables(spark, sfDir, "customer").select(col("c_custkey"), col("c_acctbal")),
        abs(col("s_acctbal") - col("c_acctbal")) < RangeBinW)
      .select(col("s_suppkey"), col("c_custkey"),
        round(abs(col("s_acctbal") - col("c_acctbal")), 2).as("gap"))
      .orderBy("s_suppkey", "c_custkey")
}
