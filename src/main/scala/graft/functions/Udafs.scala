package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Custom typed aggregation surface (SURVEY.md §2.2 "UDAF surface"):
  * `Aggregator[IN, BUF, OUT]` is the public Spark API for user-defined
  * aggregates — it plans exactly like a built-in (partial aggregation on
  * the map side via `reduce`, shuffle of the small buffer, `merge` on the
  * reduce side), so a custom aggregate keeps the map-side-combine property
  * that matters at scale.
  */
object Udafs {

  case class StatsBuf(n: Long, sum: Double, min: Double, max: Double)
  case class Stats(n_vals: Long, sum_val: Double, min_val: Double, max_val: Double)

  /** count/sum/min/max in one buffer — one pass, 32-byte shuffle payload
    * per group regardless of group size.
    */
  object StatsAgg extends Aggregator[Double, StatsBuf, Stats] {
    override def zero: StatsBuf = StatsBuf(0L, 0.0, Double.MaxValue, Double.MinValue)
    override def reduce(b: StatsBuf, x: Double): StatsBuf =
      StatsBuf(b.n + 1, b.sum + x, math.min(b.min, x), math.max(b.max, x))
    override def merge(a: StatsBuf, b: StatsBuf): StatsBuf =
      StatsBuf(a.n + b.n, a.sum + b.sum, math.min(a.min, b.min), math.max(a.max, b.max))
    override def finish(b: StatsBuf): Stats =
      if (b.n == 0) Stats(0L, 0.0, Double.NaN, Double.NaN)
      else Stats(b.n, b.sum, b.min, b.max)
    override def bufferEncoder: Encoder[StatsBuf] = Encoders.product[StatsBuf]
    override def outputEncoder: Encoder[Stats] = Encoders.product[Stats]
  }

  case class ScoredId(sim: Double, id: Long)
  case class TopKBuf(sims: Array[Double], ids: Array[Long])

  /** Bounded top-k-per-group as a typed Aggregator — the shape that makes
    * a kNN JOIN scale: the window-function alternative
    * (row_number() ≤ k) shuffles EVERY scored pair; this buffer caps the
    * exchange at k (sim, id) entries per (group, map partition), with
    * map-side partial heaps merged on the reduce side like any built-in.
    * Order is (sim DESC, id ASC) — callers pre-round sims so the ranking
    * (and its ties) is deterministic cross-engine. Buffers stay sorted;
    * k is small (≤ tens), so sorted-insert beats heap constants.
    */
  class TopKAgg(k: Int) extends Aggregator[ScoredId, TopKBuf, Array[ScoredId]] {
    private def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
      // Total order (so ranking is consistent whether the buffer is full
      // or not), but with NaN ranking BELOW every real score: a NaN sim
      // (e.g. cosine of a zero-norm vector) must lose a top-k slot to any
      // real candidate, never occupy one ahead of it. Double.compare alone
      // would put NaN above +Inf.
      val n1 = java.lang.Double.isNaN(s1); val n2 = java.lang.Double.isNaN(s2)
      if (n1 || n2) return !n1 || (n2 && i1 < i2)
      val c = java.lang.Double.compare(s1, s2)
      c > 0 || (c == 0 && i1 < i2)
    }
    override def zero: TopKBuf = TopKBuf(Array.empty, Array.empty)
    override def reduce(b: TopKBuf, x: ScoredId): TopKBuf = insert(b, x.sim, x.id)
    private def insert(b: TopKBuf, s: Double, id: Long): TopKBuf = {
      val n = b.sims.length
      if (n >= k && !beats(s, id, b.sims(n - 1), b.ids(n - 1))) return b
      var p = 0
      while (p < n && beats(b.sims(p), b.ids(p), s, id)) p += 1
      val m = math.min(n + 1, k)
      val ns = new Array[Double](m); val ni = new Array[Long](m)
      System.arraycopy(b.sims, 0, ns, 0, p)
      System.arraycopy(b.ids, 0, ni, 0, p)
      ns(p) = s; ni(p) = id
      val tail = m - p - 1
      if (tail > 0) {
        System.arraycopy(b.sims, p, ns, p + 1, tail)
        System.arraycopy(b.ids, p, ni, p + 1, tail)
      }
      TopKBuf(ns, ni)
    }
    override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      val m = math.min(a.sims.length + b.sims.length, k)
      val ns = new Array[Double](m); val ni = new Array[Long](m)
      var i = 0; var j = 0; var o = 0
      while (o < m) {
        val takeA = j >= b.sims.length ||
          (i < a.sims.length && beats(a.sims(i), a.ids(i), b.sims(j), b.ids(j)))
        if (takeA) { ns(o) = a.sims(i); ni(o) = a.ids(i); i += 1 }
        else { ns(o) = b.sims(j); ni(o) = b.ids(j); j += 1 }
        o += 1
      }
      TopKBuf(ns, ni)
    }
    override def finish(b: TopKBuf): Array[ScoredId] =
      b.sims.indices.map(i => ScoredId(b.sims(i), b.ids(i))).toArray
    override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
    override def outputEncoder: Encoder[Array[ScoredId]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[ScoredId]]()
  }

  case class VecBuf(sum: Array[Double], n: Long)

  /** Element-wise mean of an embedding column as a typed Aggregator —
    * kept as the measured ALTERNATIVE behind q_embed_centroids' design
    * choice (SURVEY §2.2's q_embed_centroids row), not its
    * implementation. The buffer is one dim-length double vector + count
    * (map-side combine, narrow hash state: one entry per group vs
    * posexplode's dim entries).
    * Measured crossover: at FEW groups the typed path edges ahead
    * (encoder cost amortizes, hash table narrow), but at row-cardinality
    * group counts it loses 3× to the fully codegen'd posexplode +
    * hash-partial-agg shape — per-group finish/encode grows with
    * groups, and both shapes partial-aggregate anyway so the exchange
    * was never the difference. The registry entry uses the codegen
    * shape (the winner in the regime where shape matters); this
    * Aggregator keeps the decision re-measurable.
    */
  object CentroidAgg extends Aggregator[Array[Float], VecBuf, Array[Double]] {
    override def zero: VecBuf = VecBuf(Array.empty, 0L)
    override def reduce(b: VecBuf, v: Array[Float]): VecBuf = {
      if (b.n == 0L) {
        val s = new Array[Double](v.length)
        var i = 0; while (i < v.length) { s(i) = v(i).toDouble; i += 1 }
        VecBuf(s, 1L)
      } else {
        val s = b.sum
        var i = 0; while (i < v.length) { s(i) += v(i); i += 1 }
        VecBuf(s, b.n + 1)
      }
    }
    override def merge(a: VecBuf, b: VecBuf): VecBuf =
      if (a.n == 0L) b
      else if (b.n == 0L) a
      else {
        val s = a.sum
        var i = 0; while (i < s.length) { s(i) += b.sum(i); i += 1 }
        VecBuf(s, a.n + b.n)
      }
    override def finish(b: VecBuf): Array[Double] =
      if (b.n == 0L) Array.empty else b.sum.map(_ / b.n)
    override def bufferEncoder: Encoder[VecBuf] = Encoders.product[VecBuf]
    override def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }
}
