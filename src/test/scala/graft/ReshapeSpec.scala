package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the distributed exact-percentile rewrite to Spark's built-in
  * `percentile` on a continuous-valued column (events.value — ~every row
  * a distinct double, the worst case for the histogram), so the
  * scale-safe formulation is proved output-identical to the buffering
  * built-in it replaces. The DuckDB oracle already covers the money
  * column; this covers the general case.
  */
class ReshapeSpec extends AnyFunSuite with SparkTest {

  test("exactPercentiles matches the buffering built-in bit-for-bit on continuous doubles") {
    val ps = Seq(0.25, 0.5, 0.9, 0.99)
    val e = graft.core.Tables(spark, sf, "events")
    val ourCols = ps.map(p => max(when(col("p") === p, col("pct"))).as(s"pct_${(p * 100).toInt}"))
    val ours = graft.ops.Reshape.exactPercentiles(e, "event_type", "value", ps)
      .groupBy(col("event_type"))
      .agg(ourCols.head, ourCols.tail: _*)
      .orderBy("event_type")
      .collect()
    val refCols = ps.map(p => expr(s"percentile(value, $p)").as(s"pct_${(p * 100).toInt}"))
    val builtin = e.groupBy(col("event_type"))
      .agg(refCols.head, refCols.tail: _*)
      .orderBy("event_type")
      .collect()
    assert(ours.length == builtin.length && ours.length > 1)
    ours.zip(builtin).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      (1 to ps.length).foreach { i =>
        assert(a.getDouble(i) == b.getDouble(i),
          s"group ${a.getString(0)} p=${ps(i - 1)}: ${a.getDouble(i)} != ${b.getDouble(i)}")
      }
    }
  }

  test("randomized equivalence: ties, negatives, singleton and skewed groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 8).foreach { trial =>
      // Heavy duplication (values snap to a 0.5 grid) exercises the
      // histogram's rank-interval logic; group "g0" is a singleton.
      val rows = ("g0", 3.25) +: Seq.fill(50 + rnd.nextInt(200)) {
        (s"g${1 + rnd.nextInt(3)}", math.floor(rnd.nextGaussian() * 8) / 2)
      }
      val df = rows.toDF("g", "v")
      val ps = Seq(0.01, 0.25, 0.5, 0.77, 0.99)
      val ours = graft.ops.Reshape.exactPercentiles(df, "g", "v", ps)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      val refCols2 = ps.map(p => expr(s"percentile(v, $p)").as(s"x${(p * 100).toInt}"))
      val ref = df.groupBy(col("g"))
        .agg(refCols2.head, refCols2.tail: _*)
        .collect().flatMap { r =>
          ps.zipWithIndex.map { case (p, i) => (r.getString(0), p) -> r.getDouble(i + 1) }
        }.toMap
      assert(ours.keySet == ref.keySet, s"trial $trial: group/p sets differ")
      ours.foreach { case (k, v) =>
        assert(java.lang.Double.doubleToLongBits(v) ==
          java.lang.Double.doubleToLongBits(ref(k)),
          s"trial $trial $k: $v != ${ref(k)}")
      }
    }
  }

  /** q_quantile_bins pins: the emitted rollup equals an independent
    * local recomputation FROM THE TAPPED BOUNDARIES (the assignment
    * scan is exact), the tapped boundaries sit inside the 1% envelope
    * of the exact percentiles, and the bins partition the table.
    */
  test("q_quantile_bins: rollup derives exactly from the tapped boundaries, inside the envelope") {
    val got = SparkEntry.queries("q_quantile_bins")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val bnds = spark.read.parquet(s"${graft.ext.OracleTap.Root}/quantile_bins_bnds")
      .collect().head.getSeq[Double](0)
    assert(bnds.length == 9 && bnds == bnds.sorted)
    // Envelope vs the exact builtin.
    val ps = (1 to 9).map(_ / 10.0)
    val exact = graft.core.Tables(spark, sf, "lineitem")
      .agg(expr(s"percentile(l_extendedprice, array(${ps.mkString(",")}))"))
      .collect().head.getSeq[Double](0)
    bnds.zip(exact).foreach { case (b, e) =>
      assert(math.abs(b - e) <= 0.01 * e, s"boundary $b vs exact $e")
    }
    // Local recomputation of the whole rollup from the tap.
    val vals = graft.core.Tables(spark, sf, "lineitem")
      .select("l_extendedprice").collect().map(_.getDouble(0))
    def round2(x: Double) =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = vals.groupBy(v => bnds.count(v > _))
      .map { case (bin, xs) =>
        (bin, xs.length.toLong, round2(xs.min), round2(xs.max), round2(xs.sum))
      }.toSeq.sortBy(_._1)
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq ==
      expected.map(t => (t._1, t._2, t._3, t._4)))
    got.map(_._5).zip(expected.map(_._5)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 0.02, s"sum_price $a vs $b") // FP add-order slack
    }
    assert(got.map(_._2).sum == vals.length.toLong)
  }
}
