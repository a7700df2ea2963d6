package graft

import org.scalatest.funsuite.AnyFunSuite

/** q_dq_rules pins: every rule catches exactly its planted violations
  * (including the NULL-counts-as-violation contract on range/set rules),
  * a clean batch passes every rule, and the ratios are the exact
  * floor-truncated quotients.
  */
case class QLine(l_orderkey: Long, l_linenumber: Long,
    l_quantity: Option[Double], l_discount: Option[Double],
    l_extendedprice: Double, l_returnflag: String,
    l_shipdate: Option[java.sql.Date])

class QualitySpec extends AnyFunSuite with SparkTest {

  private val D = java.sql.Date.valueOf("1995-06-01")

  private def runOn(lines: Seq[QLine], orderKeys: Seq[Long]): Map[String, (Long, Double, Boolean)] = {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_quality_spec")
    lines.toDF().write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    orderKeys.toDF("o_orderkey").write.mode("overwrite").parquet(s"$dir/orders.parquet")
    SparkEntry.queries("q_dq_rules")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
  }

  test("each rule counts exactly its planted violations; NULL is a violation in range rules") {
    val lines = Seq(
      QLine(1, 1, Some(10), Some(0.05), 100, "A", Some(D)),        // clean
      QLine(1, 2, Some(10), Some(0.05), 100, "N", None),           // null shipdate
      QLine(1, 3, Some(99), Some(0.05), 100, "R", Some(D)),        // qty out of range
      QLine(1, 4, None, Some(0.05), 100, "A", Some(D)),            // NULL qty → range violation
      QLine(2, 1, Some(10), Some(0.5), 100, "A", Some(D)),         // discount out of range
      QLine(2, 2, Some(10), Some(0.05), -5, "A", Some(D)),         // non-positive price
      QLine(2, 3, Some(10), Some(0.05), 100, "X", Some(D)),        // bad returnflag
      QLine(1, 1, Some(10), Some(0.05), 100, "A", Some(D)),        // duplicate PK of row 1
      QLine(999, 1, Some(10), Some(0.05), 100, "A", Some(D)),      // missing order (2 rows)
      QLine(999, 2, Some(10), Some(0.05), 100, "A", Some(D)))
    val got = runOn(lines, Seq(1L, 2L))
    val expected = Map(
      "accepted_values:l_returnflag" -> 1L,
      "completeness:l_shipdate" -> 1L,
      "fk:l_orderkey->orders" -> 2L,
      "positive:l_extendedprice" -> 1L,
      "range:l_discount[0,0.1]" -> 1L,
      "range:l_quantity[1,50]" -> 2L,
      "unique_pk:l_orderkey,l_linenumber" -> 1L)
    assert(got.keySet == expected.keySet)
    expected.foreach { case (rule, v) =>
      val (nv, ratio, passed) = got(rule)
      assert(nv == v, s"$rule violations")
      assert(!passed, s"$rule must fail")
      assert(ratio == math.floor((10.0 - v) / 10.0 * 1e6) / 1e6, s"$rule ratio")
    }
  }

  test("q_dq_quarantine: multi-reason rows tagged once per reason + once in total; clean rows absent") {
    import org.apache.spark.sql.functions.col
    // Keys chosen so the entry's own %97 contamination does NOT fire —
    // except (3,4) (3*31+4=97), which must pick mode (3+4)%5=2 and
    // corrupt l_discount.
    val lines = Seq(
      QLine(1, 1, Some(99), Some(0.05), 100, "X", Some(D)),   // qty + flag violations
      QLine(2, 1, Some(10), Some(0.05), 100, "A", Some(D)),   // clean, uncontaminated
      QLine(3, 4, Some(10), Some(0.05), 100, "A", Some(D)))   // contaminated -> discount
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_quality_spec")
    lines.toDF().write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_dq_quarantine")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDecimal(3).longValueExact))).toMap
    assert(got == Map(
      "accepted_values:l_returnflag" -> ((1L, 1L, 11L)),
      "range:l_quantity[1,50]" -> ((1L, 1L, 11L)),
      "range:l_discount[0,0.1]" -> ((1L, 3L, 34L)),
      "zz_total_quarantined" -> ((2L, 1L, 45L))))
  }

  test("q_dq_quarantine: the contamination selector takes keys past 2.97e17 without overflow") {
    // 3e17 * 31 overflows a bigint; the selector reduces the key mod 97
    // first. (3e17 % 97) * 31 + 55 = 582 = 6 * 97, so (3e17, 55) is
    // contaminated, in mode (3e17 + 55) % 5 = 0: its shipdate is nulled.
    val k = 300000000000000000L
    val lines = Seq(
      QLine(k, 1, Some(10), Some(0.05), 100, "A", Some(D)),    // clean, uncontaminated
      QLine(k, 55, Some(10), Some(0.05), 100, "A", Some(D)))   // contaminated -> shipdate
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_quality_spec")
    lines.toDF().write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_dq_quarantine")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDecimal(3).longValueExact))).toMap
    assert(got == Map(
      "completeness:l_shipdate" -> ((1L, k, k * 10 + 55)),
      "zz_total_quarantined" -> ((1L, k, k * 10 + 55))))
  }

  test("a clean batch passes every rule with ratio exactly 1.0") {
    val lines = Seq(
      QLine(1, 1, Some(10), Some(0.05), 100, "A", Some(D)),
      QLine(1, 2, Some(50), Some(0.0), 1, "N", Some(D)),
      QLine(2, 1, Some(1), Some(0.1), 999, "R", Some(D)))
    val got = runOn(lines, Seq(1L, 2L))
    assert(got.size == 7)
    got.foreach { case (rule, (nv, ratio, passed)) =>
      assert(nv == 0L && ratio == 1.0 && passed, rule)
    }
  }

  /** Independent PSI reimplementation (plain Scala) — the spec twin of
    * q_dq_drift's smoothed fixed-width-bin formula.
    */
  private def localPsi(base: Seq[Double], cur: Seq[Double]): Double = {
    def binOf(v: Double): Int = math.min(9, math.floor(v / 50.0).toInt)
    val ca = base.groupBy(binOf).view.mapValues(_.size).toMap
    val cb = cur.groupBy(binOf).view.mapValues(_.size).toMap
    val (na, nb) = (base.size, cur.size)
    val psi = (0 until 10).map { b =>
      val pa = (ca.getOrElse(b, 0) + 1.0) / (na + 10.0)
      val pb = (cb.getOrElse(b, 0) + 1.0) / (nb + 10.0)
      (pb - pa) * math.log(pb / pa)
    }.sum
    BigDecimal(psi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def runDrift(rows: Seq[(String, String, Double)]): Map[String, (Long, Long, Double, String)] = {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_drift_spec")
    rows.zipWithIndex.map { case ((typ, ts, v), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(ts), i.toLong % 7, typ, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    SparkEntry.queries("q_dq_drift")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
  }

  test("q_dq_drift matches an independent PSI on planted distributions") {
    val b = "2024-01-05 00:00:00"; val c = "2024-01-20 00:00:00"
    // same: identical distributions → PSI exactly 0, stable.
    // shifted: all mass moves bin 0 → bin 9 → large PSI, drift.
    // uneven: same bin but unequal n — empty bins still contribute
    // under smoothing (the dense-scaffold contract).
    val rows =
      Seq.fill(4)(("same", b, 10.0)) ++ Seq.fill(4)(("same", c, 10.0)) ++
      Seq.fill(4)(("shifted", b, 10.0)) ++ Seq.fill(4)(("shifted", c, 480.0)) ++
      Seq.fill(8)(("uneven", b, 10.0)) ++ Seq.fill(2)(("uneven", c, 10.0))
    val got = runDrift(rows)
    assert(got("same") == ((4L, 4L, 0.0, "stable")))
    val expShift = localPsi(Seq.fill(4)(10.0), Seq.fill(4)(480.0))
    assert(got("shifted")._3 == expShift && expShift > 0.2, got("shifted"))
    assert(got("shifted")._4 == "drift")
    val expUneven = localPsi(Seq.fill(8)(10.0), Seq.fill(2)(10.0))
    assert(got("uneven") == ((8L, 2L, expUneven, if (expUneven > 0.2) "drift"
      else if (expUneven > 0.1) "watch" else "stable")), got("uneven"))
  }
}
