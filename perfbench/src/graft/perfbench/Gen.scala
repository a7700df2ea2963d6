package graft.perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The benchmark's one input generator: seeded, single-threaded, and the
  * source of every workload's expected output. Each generator keeps the
  * properties of what it produced (`props`) for the run record.
  */
object Gen {
  val Day0Ms = 1704067200000L // 2024-01-01T00:00:00Z
  val DayMs = 86400000L
  val EventDays = 30

  /** Spark's `xxhash64(c1, c2, ...)`: seed 42, each non-null column folds
    * into the running hash. Used for output digests on both sides.
    */
  def xxhash(cols: (Any, DataType)*): Long =
    cols.foldLeft(42L) { case (h, (v, t)) =>
      if (v == null) h
      else XxHash64Function.hash(
        if (t == StringType) UTF8String.fromString(v.asInstanceOf[String]) else v, t, h)
    }

  /** Order-independent digest of a row multiset: count, XOR of the row
    * hashes and the sum of their top 31 bits. The Spark side computes the
    * same three numbers with `count`, `bit_xor` and `sum`.
    */
  final case class Digest(rows: Long, xor: Long, hi: Long) {
    def +(h: Long): Digest = Digest(rows + 1, xor ^ h, hi + (h >>> 33))
  }
  val EmptyDigest = Digest(0, 0, 0)

  def dtOf(esMs: Long): String =
    LocalDate.ofEpochDay(Math.floorDiv(esMs, DayMs)).toString.replace("-", "")

  /** Expected state of a CDC file sink after some envelopes. */
  final class SinkExpect {
    val perDt = mutable.HashMap.empty[String, Long]
    var digest: Digest = EmptyDigest
    def deadLetter: Long = perDt.getOrElse("00000000", 0L)
  }

  private val EventTypes = Array("view", "click", "cart", "buy")
  private val DmlTypes = Array("INSERT", "UPDATE", "DELETE")

  /** Canal binlog envelopes. 10% DDL, 1% unparsable `es` (dead letter),
    * 1-3 payload rows, event time uniform over [[EventDays]] days (so
    * ~30 `dt` partitions), and 5% out of order: their Canal `ts` lies up
    * to 5 s before the nominal publish time.
    */
  final class Envelopes(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private var nextId = 0L
    private var maxTs = Long.MinValue
    val expect = new SinkExpect
    var envelopes, bytes, ddl, rows, deadLetter, outOfOrder = 0L

    /** Append one envelope (one JSON line) published at `tsMs`. */
    def append(sb: java.lang.StringBuilder, tsMs: Long): Unit = {
      val start = sb.length
      val id = nextId; nextId += 1
      val isDdl = rnd.nextInt(10) == 0
      val bad = rnd.nextInt(100) == 0
      val es = Day0Ms + rnd.nextLong(EventDays * DayMs)
      val ts = if (rnd.nextInt(20) == 0) tsMs - 1 - rnd.nextInt(5000) else tsMs
      if (ts < maxTs) outOfOrder += 1 else maxTs = ts
      val esJson = if (bad) "\"n/a\"" else es.toString
      val kind = if (isDdl) "ALTER" else DmlTypes(rnd.nextInt(DmlTypes.length))
      sb.append("{\"id\":").append(id).append(",\"es\":").append(esJson)
        .append(",\"ts\":").append(ts).append(",\"type\":\"").append(kind)
        .append("\",\"isDdl\":\"").append(isDdl).append("\",\"database\":\"shop\",")
        .append("\"table\":\"orders\",\"data\":")
      if (isDdl) { sb.append("null"); ddl += 1 }
      else {
        val n = 1 + rnd.nextInt(3)
        val dt = if (bad) "00000000" else dtOf(es)
        sb.append('[')
        var i = 0
        while (i < n) {
          val user = rnd.nextInt(100000).toString
          val ev = EventTypes(rnd.nextInt(EventTypes.length))
          val value = s"${rnd.nextInt(1000)}.${rnd.nextInt(10)}${rnd.nextInt(10)}"
          if (i > 0) sb.append(',')
          sb.append("{\"user_id\":\"").append(user).append("\",\"event_type\":\"").append(ev)
            .append("\",\"value\":\"").append(value).append("\"}")
          // Cdc.flatten's line: id,es,ts,type,<payload>; concat_ws skips a null es.
          val line = (Seq(id.toString) ++ (if (bad) Nil else Seq(es.toString)) ++
            Seq(ts.toString, kind, user, ev, value)).mkString(",")
          expect.perDt(dt) = expect.perDt.getOrElse(dt, 0L) + 1
          expect.digest += xxhash(line -> StringType)
          i += 1
        }
        sb.append(']')
        rows += n
        if (bad) deadLetter += 1
      }
      sb.append("}\n")
      envelopes += 1
      bytes += sb.length - start
    }

    def props: Map[String, Any] = Map(
      "envelopes" -> envelopes, "bytes" -> bytes,
      "ddl_share" -> ddl.toDouble / math.max(1, envelopes),
      "rows_per_envelope" -> rows.toDouble / math.max(1, envelopes - ddl),
      "dead_letter_share" -> deadLetter.toDouble / math.max(1, envelopes),
      "out_of_order_share" -> outOfOrder.toDouble / math.max(1, envelopes))
  }

  /** The nightly merge's inputs: an initial snapshot of `entities` rows
    * and daily change sets of `changes` rows. Change keys are Zipf(0.99)
    * over the existing entities, with 10% new keys; 5% of changes are
    * deletes (kept as rows); `ts` has second resolution inside a one-hour
    * window, so a hot key's changes tie on `ts` and `id` breaks the tie.
    * The generator keeps the expected restored state.
    */
  final class MergeDays(seed: Long, entities: Int, changes: Int) {
    val ZipfExponent = 0.99
    private val rnd = new SplittableRandom(seed)
    private val cdf: Array[Double] = {
      val c = new Array[Double](entities)
      var acc = 0.0
      var i = 0
      while (i < entities) { acc += 1.0 / math.pow(i + 1, ZipfExponent); c(i) = acc; i += 1 }
      i = 0
      while (i < entities) { c(i) /= acc; i += 1 }
      c
    }
    private var cap = entities * 2
    private var v = new Array[Long](cap)
    private var ts = new Array[Long](cap)
    private var op = new Array[Byte](cap)
    private var ids = new Array[Long](cap)
    var keys: Int = 0
    private var nextChangeId = 0L
    var deletes, newKeys, rowsOut = 0L

    private def grow(): Unit = {
      cap *= 2
      v = java.util.Arrays.copyOf(v, cap); ts = java.util.Arrays.copyOf(ts, cap)
      op = java.util.Arrays.copyOf(op, cap); ids = java.util.Arrays.copyOf(ids, cap)
    }

    private def zipfKey(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, entities - 1)
    }

    private def csvRow(sb: java.lang.StringBuilder, k: Long, vv: Long, t: Long, o: Byte, id: Long): Unit =
      sb.append(k).append(',').append(vv).append(',').append(t).append(',')
        .append(o.toChar).append(',').append(id).append('\n')

    /** Day 0: every entity once, as an insert. */
    def snapshotCsv(): java.lang.StringBuilder = {
      val sb = new java.lang.StringBuilder(entities * 40)
      while (keys < entities) {
        val k = keys
        v(k) = rnd.nextLong(1000000000L); ts(k) = 0L; op(k) = 'I'; ids(k) = nextChangeId
        nextChangeId += 1
        csvRow(sb, k, v(k), ts(k), op(k), ids(k))
        keys += 1
      }
      rowsOut += entities
      sb
    }

    /** Day `day` (1-based) change set, applied to the expected state. */
    def deltaCsv(day: Int): java.lang.StringBuilder = {
      val sb = new java.lang.StringBuilder(changes * 40)
      val dayBase = day * 86400L
      var j = 0
      while (j < changes) {
        val fresh = rnd.nextInt(10) == 0
        val k = if (fresh) { if (keys == cap) grow(); keys += 1; newKeys += 1; keys - 1 } else zipfKey()
        val o: Byte = if (fresh) 'I' else if (rnd.nextInt(20) == 0) 'D' else 'U'
        if (o == 'D') deletes += 1
        val t = dayBase + rnd.nextInt(3600)
        val vv = rnd.nextLong(1000000000L)
        val id = nextChangeId; nextChangeId += 1
        // Latest by (ts desc, id desc); ids only grow, so ties go to the newer row.
        if (fresh || t >= ts(k)) { v(k) = vv; ts(k) = t; op(k) = o; ids(k) = id }
        csvRow(sb, k, vv, t, o, id)
        j += 1
      }
      rowsOut += changes
      sb
    }

    /** Digest of the expected snapshot, hashing (k, v, ts, op, id) the way
      * `xxhash64(k, v, ts, op, id)` does in Spark.
      */
    def expectedDigest(): Digest = {
      var d = EmptyDigest
      var k = 0
      while (k < keys) {
        d += xxhash(k.toLong -> LongType, v(k) -> LongType, ts(k) -> LongType,
          op(k).toChar.toString -> StringType, ids(k) -> LongType)
        k += 1
      }
      d
    }

    def props: Map[String, Any] = Map(
      "entities" -> entities, "changes_per_day" -> changes,
      "key_skew_exponent" -> ZipfExponent,
      "new_key_share" -> newKeys.toDouble / math.max(1L, rowsOut - entities),
      "delete_share" -> deletes.toDouble / math.max(1L, rowsOut - entities))
  }

  /** Near-duplicate corpus: `docs` documents of 50 words from a 20k-word
    * vocabulary. 20% of documents are planted near-duplicates: chains of
    * 2-4 documents, each a one-word edit of the previous one, so a chain's
    * components have diameter above 1. Documents are shuffled.
    */
  final class Corpus(seed: Long, docs: Int) {
    private val rnd = new SplittableRandom(seed)
    private val vocab = Array.tabulate(20000) { i =>
      val r = new SplittableRandom(seed * 31 + i)
      (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString + i
    }
    /** chain(docId) = id of its planted chain, or -1. */
    val chain: Array[Int] = Array.fill(docs)(-1)
    var planted = 0

    def tsv(): java.lang.StringBuilder = {
      val texts = new Array[Array[Int]](docs)
      val chainOf = new Array[Int](docs)
      var n = 0
      var chains = 0
      while (n < docs) {
        val base = Array.fill(50)(rnd.nextInt(vocab.length))
        val remaining = docs - n
        // A chain starts with p = 1/8 and adds 2 edits on average:
        // 2p / (1 + 2p) = 20% of documents are planted edits.
        val len = if (rnd.nextInt(8) == 0 && remaining >= 4) 2 + rnd.nextInt(3) else 1
        var cur = base
        var c = 0
        while (c < len) {
          if (c > 0) {
            cur = cur.clone()
            cur(rnd.nextInt(50)) = rnd.nextInt(vocab.length)
            planted += 1
          }
          texts(n) = cur
          chainOf(n) = if (len > 1) chains else -1
          n += 1
          c += 1
        }
        if (len > 1) chains += 1
      }
      // Fisher-Yates: doc ids do not reveal chain order.
      val perm = Array.range(0, docs)
      var i = docs - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
      val sb = new java.lang.StringBuilder(docs * 400)
      i = 0
      while (i < docs) {
        val src = perm(i)
        chain(i) = chainOf(src)
        sb.append(i).append('\t')
        var w = 0
        while (w < 50) { if (w > 0) sb.append(' '); sb.append(vocab(texts(src)(w))); w += 1 }
        sb.append('\n')
        i += 1
      }
      sb
    }

    def isPlantedPair(a: Long, b: Long): Boolean =
      chain(a.toInt) >= 0 && chain(a.toInt) == chain(b.toInt)

    def plantedPairs: Long =
      chain.filter(_ >= 0).groupBy(identity).values.map(g => g.length.toLong * (g.length - 1) / 2).sum

    def props: Map[String, Any] = Map(
      "docs" -> docs, "words_per_doc" -> 50,
      "planted_duplicate_share" -> planted.toDouble / docs)
  }
}
