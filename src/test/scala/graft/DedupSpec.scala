package graft

import org.scalatest.funsuite.AnyFunSuite

/** The staged MinHash near-dup pipeline (exact-collapse → rep LSH →
  * expansion) must be output-identical to the naive verify-every-candidate
  * pipeline.
  */
class DedupSpec extends AnyFunSuite with SparkTest {

  test("staged q_minhash_near_dup equals the naive single-stage pipeline") {
    val staged = SparkEntry.queries("q_minhash_near_dup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val naive = DedupSpec.minhashNearDupNaive(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(staged.toSeq == naive.toSeq)
  }

  test("staged q_simhash_near_dup equals the naive single-stage pipeline") {
    val staged = SparkEntry.queries("q_simhash_near_dup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val naive = DedupSpec.simhashNearDupNaive(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(staged.toSeq == naive.toSeq)
  }

  test("q_dedup_cluster_graph equals union-find over the verified pair set") {
    val pairs = SparkEntry.queries("q_minhash_near_dup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = graft.core.Tables(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))

    // Driver-side union-find ground truth.
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val truth = nodes.map(n => n -> find(n)).toMap

    val got = graft.ext.Dedup.dedupClusterGraph(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == truth)
    // Invariants: every doc labeled once; cluster_id is the component min.
    assert(got.keySet == nodes.toSet)
    assert(got.values.toSet.forall(cid => got(cid) == cid),
      "a cluster representative must be its own cluster_id")
  }

  test("staged q_dedup_spans equals the naive all-docs gram index") {
    // Fixture corpus (has exact-copy groups, shared prefixes, singletons)
    // plus a synthetic corpus mixing copies with partial overlaps: the
    // staged whole-doc + representative-index path must be row-identical
    // to shingling every document.
    import spark.implicits._
    val fixture = graft.core.Tables(spark, sf, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(rows(graft.ext.Dedup.spansOf(fixture)) ==
      rows(DedupSpec.spansOfNaive(fixture)))

    val shared = (1 to 9).map(i => s"s$i").mkString(" ")
    val synth = Seq(
      (1L, s"$shared a b c d e f g h"),  // overlaps 2 (prefix) and 3/4 (copy grams)
      (2L, s"x1 x2 $shared y1 y2"),
      (3L, s"$shared tail1 tail2"),      // 3 and 4: exact copies
      (4L, s"$shared tail1 tail2"),
      (5L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"), // unique singleton
      (6L, "short one")
    ).toDF("doc_id", "text")
    assert(rows(graft.ext.Dedup.spansOf(synth)) ==
      rows(DedupSpec.spansOfNaive(synth)))
  }

  test("q_dedup_spans finds exact maximal shared spans on a synthetic corpus") {
    import spark.implicits._
    // Tokens are single letters; the shared window is w10..w21 (12 words),
    // embedded at token offset 3 in doc 1 and offset 0 in doc 2. With
    // k = 8 a 12-word shared window yields 12 - 8 + 1 = 5 duplicated
    // 8-grams at consecutive positions, which must merge into ONE maximal
    // span of tok_len 12 — not 5 overlapping spans.
    val shared = (10 to 21).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"a b c $shared x y z"),   // span at tok_start 3
      (2L, s"$shared p q r s t u v"), // span at tok_start 0
      (3L, "entirely unrelated words that repeat nowhere else at all ok")
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.spansOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 3L, 12L, 5L),
      (2L, 1L, 0L, 12L, 5L)))
  }

  test("q_dedup_spans splits hit runs separated by a gap into two islands") {
    import spark.implicits._
    // Doc 1 carries TWO copies of an 8-word block from doc 2, separated by
    // 10 unique filler words: positions 0 and 18. Gap (18 - 0 = 18) > k,
    // so two distinct maximal spans; doc 2's single copy is one span.
    val block = (1 to 8).map(i => s"b$i").mkString(" ")
    val filler = (1 to 10).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"$block $filler $block"),
      (2L, s"$block tail1 tail2 tail3 tail4 tail5 tail6 tail7")
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.spansOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 0L, 8L, 1L),
      (1L, 2L, 18L, 8L, 1L),
      (2L, 1L, 0L, 8L, 1L)))
  }

  test("production-width span dedup (width 50): staged==naive, exact boundaries, sub-width windows invisible") {
    import spark.implicits._
    // Lee et al. run span removal at ~50 tokens; the fixture-width tests
    // above pin width 8. Same arithmetic, production width: a 55-token
    // shared window must merge its 6 duplicated 50-grams into ONE span
    // (tok_len 55), a 49-token shared window must be invisible at width
    // 50, and an exact-copy pair must surface as whole-doc spans through
    // the staged branch — identical to the naive all-docs index.
    val shared55 = (1 to 55).map(i => s"s$i").mkString(" ")
    val shared49 = (1 to 49).map(i => s"t$i").mkString(" ")
    def uniq(d: Int, n: Int, from: Int) =
      (from until from + n).map(i => s"u${d}_$i").mkString(" ")
    val docs = Seq(
      (1L, s"${uniq(1, 10, 0)} $shared55 ${uniq(1, 20, 100)}"), // island at 10 via doc 2
      (2L, s"$shared55 ${uniq(2, 30, 0)}"),                     // island at 0
      (3L, s"${uniq(3, 5, 0)} $shared49 ${uniq(3, 60, 100)}"),  // sub-width: nothing
      (4L, s"$shared49 ${uniq(4, 60, 0)}"),
      (5L, uniq(5, 120, 0)),                                    // unique long singleton
      (6L, s"${uniq(1, 10, 0)} $shared55 ${uniq(1, 20, 100)}")  // exact copy of 1
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val staged = rows(graft.ext.Dedup.spansOf(docs, 50))
    assert(staged == rows(DedupSpec.spansOfNaive(docs, 50)))
    assert(staged == Seq(
      (1L, 1L, 0L, 85L, 36L), // exact copies: whole-doc span, n_grams 85-50+1
      (2L, 1L, 0L, 55L, 6L),  // 55-token window: ONE maximal span, 6 grams
      (6L, 1L, 0L, 85L, 36L)))
  }

  test("q_dedup_spans emits no spans for docs shorter than the gram width or with no cross-doc repeat") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short doc only"),          // < 8 words: skipped by contract
      (2L, "one two three four five six seven eight"),
      (3L, "nine ten eleven twelve thirteen fourteen fifteen sixteen")
    ).toDF("doc_id", "text")
    assert(graft.ext.Dedup.spansOf(docs).count() == 0L)
  }

  test("randomized staged==naive spans equivalence (small-alphabet corpora)") {
    // Small alphabet forces dense shared 8-grams; explicit copy injection
    // forces multi-member groups; short docs exercise the width filter.
    // Generators driven directly with fixed seeds (the scalatest bridge is
    // not in the offline cache), same convention as MergePropertySpec.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val genCorpus: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(1, 18)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(0, 30)
        toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
      } yield toks.mkString(" "))
      nCopies <- Gen.choose(0, 5)
      copyOf <- Gen.listOfN(nCopies, Gen.choose(0, n - 1))
    } yield (docs ++ copyOf.map(docs)).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    (1L to 8L).foreach { seed =>
      val corpus = genCorpus.apply(Gen.Parameters.default, Seed(seed))
        .getOrElse(sys.error(s"gen failed for seed $seed")).toDF("doc_id", "text")
      def rows5(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(rows5(graft.ext.Dedup.spansOf(corpus)) ==
        rows5(DedupSpec.spansOfNaive(corpus)), s"seed $seed")
    }
  }

  test("q_dedup_span_stats: span coverage never exceeds the doc (islands are disjoint)") {
    val rows = SparkEntry.queries("q_dedup_span_stats")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1),
        s"doc ${r.getLong(0)}: dup_tokens ${r.getLong(2)} > n_tok ${r.getLong(1)}")
    }
    assert(rows.exists(_.getLong(3) > 0), "fixture must exercise nonzero spans")
    assert(rows.length == spark.read.parquet(s"$sf/documents.parquet").count().toInt,
      "one stats row per document, including span-free docs")
  }

  // ---- Persisted incremental MinHash index ------------------------------

  /** 50 distinct words per doc, disjoint across seeds: word-set Jaccard
    * between different seeds is 0; a one-word edit gives 49/51 ≈ 0.96.
    */
  private def docText(seed: Int): String =
    (0 until 50).map(i => s"w${seed}_$i").mkString(" ")

  test("probeMinhashIndex finds planted near-dups of an ingest batch without re-hashing the corpus") {
    import spark.implicits._
    val base = (0L until 10L).map(i => (i, docText(i.toInt)))
    val nearCopy = {
      val toks = docText(3).split(' '); toks(25) = "CHANGED"
      (100L, toks.mkString(" "))
    }
    val exactCopy = (101L, base(5)._2)
    val unrelated = (102L, docText(999))
    val dir = graft.core.TempDirs.create("graft_minhash_spec")
    graft.ext.NearDup.MinhashIndex.write(dir, base.toDF("doc_id", "text"))
    val batch = Seq(nearCopy, exactCopy, unrelated).toDF("doc_id", "text")
    val corpus = (base ++ Seq(nearCopy, exactCopy, unrelated)).toDF("doc_id", "text")
    val got = graft.ext.Dedup.probeMinhashIndex(spark, dir, batch, corpus)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // One-word edit: 47/50 shingles survive → banding collides; Jaccard
    // 49/51 passes the 0.8 gate. Exact copy: identical signature, 1.0.
    assert(got.contains((100L, 3L)), s"near-copy not matched: $got")
    assert(got((100L, 3L)) >= 0.9 && got((100L, 3L)) < 1.0)
    assert(got.get((101L, 5L)).contains(1.0), s"exact copy not matched: $got")
    // Disjoint-vocabulary doc: no verified match (and no false positive
    // for the near/exact copies against other index docs).
    assert(!got.keySet.exists(_._1 == 102L), s"unrelated doc matched: $got")
    assert(got.keySet == Set((100L, 3L), (101L, 5L)), s"unexpected matches: $got")
  }

  test("minhashIndexAppend: append equals rebuild, and an uncommitted batch is invisible") {
    import spark.implicits._
    val base = (0L until 10L).map(i => (i, docText(i.toInt)))
    val ingest1 = (200L until 205L).map(i => (i, docText(i.toInt)))
    val probeDoc = Seq((300L, ingest1(2)._2)) // exact copy of doc 202's content
    val corpus = (base ++ ingest1 ++ probeDoc).toDF("doc_id", "text")
    val batchDf = probeDoc.toDF("doc_id", "text")

    val dir = graft.core.TempDirs.create("graft_minhash_append")
    graft.ext.NearDup.MinhashIndex.write(dir, base.toDF("doc_id", "text"))
    def probe() = graft.ext.Dedup.probeMinhashIndex(spark, dir, batchDf, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // Before the append the probed content is unknown to the index.
    assert(probe().isEmpty)

    // Append the ingest batch: the probe must now surface the match...
    graft.ext.NearDup.MinhashIndex.append(spark, dir, ingest1.toDF("doc_id", "text"))
    assert(probe() == Seq((300L, 202L)))

    // ...identically to a full rebuild over the union (same postings
    // semantics, index-once vs re-hash-everything economics).
    val rebuilt = graft.core.TempDirs.create("graft_minhash_rebuild")
    graft.ext.NearDup.MinhashIndex.write(rebuilt, (base ++ ingest1).toDF("doc_id", "text"))
    val rebuiltRows = graft.ext.Dedup.probeMinhashIndex(spark, rebuilt, batchDf, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probe() == rebuiltRows)

    // Crash window: roll the manifest back to the pre-append commit —
    // the appended batch directory is still on disk but must be
    // invisible to probes (manifest-gated read).
    graft.core.PersistedIndex.writeManifest(dir, graft.core.PersistedIndex.Manifest(Seq(0L)))
    assert(probe().isEmpty, "uncommitted batch leaked into a probe")
    // Restore the commit: visible again.
    graft.core.PersistedIndex.writeManifest(dir, graft.core.PersistedIndex.Manifest(Seq(0L, 1L)))
    assert(probe() == Seq((300L, 202L)))

    // Compaction: merge the two batches into one — probe-identical,
    // single referenced + on-disk batch, idempotent re-run.
    graft.ext.NearDup.MinhashIndex.compact(spark, dir)
    assert(graft.core.PersistedIndex.readManifest(dir).batches.size == 1)
    val dirs = Option(new java.io.File(dir, "postings").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(dirs.length == 1, s"old batch dirs not GC'd: ${dirs.map(_.getName).mkString(",")}")
    assert(probe() == Seq((300L, 202L)), "compaction changed probe output")
    graft.ext.NearDup.MinhashIndex.compact(spark, dir)
    assert(probe() == Seq((300L, 202L)))
  }

  test("minhashIndexAppend: a batch with internal exact duplicates still equals a rebuild") {
    import spark.implicits._
    // ADVICE r9: append used to band EVERY batch doc while the rebuild
    // collapses exact-duplicate groups to min-id representatives first;
    // a dup-containing batch then yielded extra postings rows vs a
    // rebuild. The append now applies the same collapse.
    val base = (0L until 10L).map(i => (i, docText(i.toInt)))
    // Ingest batch with an internal exact-duplicate group: 210 (= rep),
    // 211 and 212 carry identical text.
    val ingest = Seq((210L, docText(210)), (211L, docText(210)),
      (212L, docText(210)), (213L, docText(213)))
    val probeDoc = Seq((300L, docText(210)))
    val corpus = (base ++ ingest ++ probeDoc).toDF("doc_id", "text")
    val batchDf = probeDoc.toDF("doc_id", "text")

    val dir = graft.core.TempDirs.create("graft_minhash_dupbatch")
    graft.ext.NearDup.MinhashIndex.write(dir, base.toDF("doc_id", "text"))
    graft.ext.NearDup.MinhashIndex.append(spark, dir, ingest.toDF("doc_id", "text"))
    val rebuilt = graft.core.TempDirs.create("graft_minhash_dupbatch_rb")
    graft.ext.NearDup.MinhashIndex.write(rebuilt,
      (base ++ ingest).toDF("doc_id", "text"))
    def rows(d: String) = graft.ext.Dedup.probeMinhashIndex(spark, d, batchDf, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // The probe surfaces only the representative (min id) of the group,
    // identically on the appended and the rebuilt index.
    assert(rows(dir) == Seq((300L, 210L)), s"append surfaced non-reps: ${rows(dir)}")
    assert(rows(dir) == rows(rebuilt))
    // And the postings THEMSELVES are set-identical (not just the probe):
    // the old defect was extra (doc_id) postings rows for 211/212.
    def postingDocs(d: String) = spark.read
      .parquet(new java.io.File(d, "postings").getPath)
      .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(postingDocs(dir) == postingDocs(rebuilt),
      s"append postings carry non-representative docs: ${postingDocs(dir) -- postingDocs(rebuilt)}")
  }

  test("minhash streaming ingest: streamed micro-batches are probe-visible; a replayed ingestKey is a committed no-op, surviving compaction") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val base = (0L until 10L).map(i => (i, docText(i.toInt)))
    val arriving = (200L until 205L).map(i => (i, docText(i.toInt)))
    val dir = graft.core.TempDirs.create("graft_minhash_stream")
    graft.ext.NearDup.MinhashIndex.write(dir, base.toDF("doc_id", "text"))
    // Two source files + maxFilesPerTrigger=1 => TWO real micro-batches
    // through foreachBatch, each committing via minhashIndexAppend keyed
    // on its batchId.
    val srcDir = graft.core.TempDirs.create("graft_minhash_stream_src")
    arriving.take(2).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    arriving.drop(2).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) graft.ext.NearDup.MinhashIndex.append(spark, dir, b,
          ingestKey = Some(s"stream-$batchId"))
      }
      .option("checkpointLocation", graft.core.TempDirs.create("graft_minhash_stream_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // A probe doc that exactly copies a STREAMED doc's content must
    // match it — only possible if the micro-batch was committed.
    val probeDoc = Seq((300L, arriving(2)._2)).toDF("doc_id", "text")
    val corpus = (base ++ arriving ++ Seq((300L, arriving(2)._2))).toDF("doc_id", "text")
    def probe() = graft.ext.Dedup.probeMinhashIndex(spark, dir, probeDoc, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probe() == Seq((300L, 202L)), s"streamed doc not probe-visible: ${probe()}")
    assert(graft.core.PersistedIndex.readManifest(dir).ingestKeys.toSet == Set("stream-0", "stream-1"))
    // At-least-once replay (crash between manifest commit and checkpoint
    // offset): re-appending under a committed key is a no-op — no new
    // batch, no postings growth.
    val batchesBefore = graft.core.PersistedIndex.readManifest(dir).batches
    val postingsBefore = spark.read.parquet(s"$dir/postings").count()
    graft.ext.NearDup.MinhashIndex.append(spark, dir,
      arriving.take(2).toDF("doc_id", "text"), ingestKey = Some("stream-0"))
    assert(graft.core.PersistedIndex.readManifest(dir).batches == batchesBefore,
      "replayed ingestKey committed a duplicate batch")
    assert(spark.read.parquet(s"$dir/postings").count() == postingsBefore)
    // The ledger survives compaction: a pre-compact micro-batch that
    // replays AFTER the compact is still recognized as committed.
    graft.ext.NearDup.MinhashIndex.compact(spark, dir)
    graft.ext.NearDup.MinhashIndex.append(spark, dir,
      arriving.drop(2).toDF("doc_id", "text"), ingestKey = Some("stream-1"))
    assert(spark.read.parquet(s"$dir/postings").count() == postingsBefore,
      "post-compaction replay re-committed a published batch")
    assert(probe() == Seq((300L, 202L)))
  }

  test("minhash streaming ingest: a second stream on its own checkpoint is not dropped as a replay; a same-checkpoint replay stays a no-op") {
    import spark.implicits._
    import graft.core.{BoundedStream, PersistedIndex, TempDirs}
    // Both document-postings families run the one shared index.
    Seq(graft.ext.NearDup.MinhashIndex, graft.ext.NearDup.PhashIndex).foreach { ix =>
      val name = s"graft_${ix.store.name}_two_streams"
      val dir = TempDirs.create(name)
      ix.write(dir, (0L until 10L).map(i => (i, docText(i.toInt))).toDF("doc_id", "text"))
      // One stream: its own source dir and its own fresh checkpoint, into
      // the shared index through the s_minhash_ingest leg's body.
      def ingest(src: String, ckpt: String): Unit =
        BoundedStream.appendStream(spark.readStream.schema("doc_id LONG, text STRING")
          .parquet(src), ckpt) { (b, key) =>
          ix.append(spark, dir, b, ingestKey = Some(key))
        }
      def source(ids: Seq[Long]): String = {
        val src = TempDirs.create(s"${name}_src")
        ids.map(i => (i, docText(i.toInt))).toDF("doc_id", "text").coalesce(1)
          .write.mode("append").parquet(src)
        src
      }
      def indexedDocs(): Set[Long] = {
        val m = PersistedIndex.readManifest(dir)
        spark.read.parquet(s"$dir/postings").where($"batch_id".isin(m.batches: _*))
          .select("doc_id").distinct().as[Long].collect().toSet
      }
      ingest(source(Seq(200L, 201L)), TempDirs.create(s"${name}_ckpt"))
      assert(PersistedIndex.readManifest(dir).batches == Seq(0L, 1L), ix.store.name)
      val src2 = source(Seq(300L, 301L))
      val ckpt2 = TempDirs.create(s"${name}_ckpt")
      ingest(src2, ckpt2) // batchId 0 again, under a new checkpoint
      val m = PersistedIndex.readManifest(dir)
      assert(m.batches == Seq(0L, 1L, 2L), s"${ix.store.name}: second stream's batch dropped: $m")
      assert(m.ingestKeys.distinct.size == 2, s"${ix.store.name}: ingest keys collided: ${m.ingestKeys}")
      assert(Set(200L, 201L, 300L, 301L).subsetOf(indexedDocs()),
        s"${ix.store.name}: streamed docs missing from the index: ${indexedDocs()}")
      // Replay from the SAME checkpoint: drop its commit record (the crash
      // window between manifest commit and checkpoint commit) and rerun.
      val commit = new java.io.File(ckpt2, "commits/0")
      assert(commit.delete(), "failed to remove the checkpoint commit")
      new java.io.File(ckpt2, "commits/.0.crc").delete()
      val postingsBefore = spark.read.parquet(s"$dir/postings").count()
      ingest(src2, ckpt2)
      assert(commit.exists(), s"${ix.store.name}: the replay did not re-commit batch 0")
      assert(PersistedIndex.readManifest(dir) == m, s"${ix.store.name}: a same-checkpoint replay committed again")
      assert(spark.read.parquet(s"$dir/postings").count() == postingsBefore, ix.store.name)
    }
  }

  test("minhashIndexDelete: tombstoned docs invisible pre- and post-compaction; ledger survives appends") {
    import spark.implicits._
    val base = (0L until 10L).map(i => (i, docText(i.toInt)))
    // Probe doc 300 copies doc 3's content; 301 copies doc 5's.
    val probeDocs = Seq((300L, base(3)._2), (301L, base(5)._2))
    val corpus = (base ++ probeDocs).toDF("doc_id", "text")
    val batchDf = probeDocs.toDF("doc_id", "text")
    val dir = graft.core.TempDirs.create("graft_minhash_delete")
    graft.ext.NearDup.MinhashIndex.write(dir, base.toDF("doc_id", "text"))
    def probe() = graft.ext.Dedup.probeMinhashIndex(spark, dir, batchDf, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe() == Set((300L, 3L), (301L, 5L)))

    // Takedown of doc 3: its postings must stop matching immediately.
    graft.ext.NearDup.MinhashIndex.store.delete(dir, Seq(3L).toDF("doc_id"))
    assert(probe() == Set((301L, 5L)), s"deleted doc still matches: ${probe()}")

    // Appends preserve the ledger (no resurrection via manifest rewrite).
    graft.ext.NearDup.MinhashIndex.append(spark, dir,
      Seq((200L, docText(200))).toDF("doc_id", "text"))
    assert(graft.core.PersistedIndex.readManifest(dir).tombstones.nonEmpty,
      "append wiped the tombstone ledger")
    assert(probe() == Set((301L, 5L)))

    // Compaction drops doc 3's postings physically and clears the ledger.
    graft.ext.NearDup.MinhashIndex.compact(spark, dir)
    assert(graft.core.PersistedIndex.readManifest(dir).tombstones.isEmpty)
    assert(probe() == Set((301L, 5L)), "compaction changed the post-delete probe")
    val remaining = spark.read
      .parquet(new java.io.File(dir, "postings").getPath)
      .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!remaining.contains(3L), "tombstoned doc's postings survived compaction")
  }
}

/** The naive single-stage twins the staged dedup pipelines must equal. */
object DedupSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  import graft.core.Tables
  import graft.ext.Dedup._
  import graft.ext.NearDup
  import graft.ext.Similarity.SimhashMaxHamming
  import graft.functions.SimHash64

  /** Naive twin (gram index over EVERY doc) — the reference
    * implementation DedupSpec pins the staged path against. On a corpus
    * with exact-copy cliques the hit set is copy-factor-sized: every
    * position of every copy rides the shuffle and the island window
    * (measured 41 s warm at 20x vs 2-4 s staged).
    */
  def spansOfNaive(docs: DataFrame, width: Int = SpanGram): DataFrame =
    spanIslands(docs, docs.select("doc_id"), width).orderBy("doc_id", "span_id")

  /** Naive single-stage pipeline (reference implementation, used by the
    * equivalence spec at sf0.001): signatures → LSH candidates → exact
    * Jaccard verify on every candidate pair. Correct but pays a word-array
    * shuffle + verify per pair — on corpora with exact-duplicate cliques
    * (the common case) a k-copy group alone yields k(k-1)/2 verified
    * pairs.
    */
  def minhashNearDupNaive(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val cands = lshCandidates(minhashSignatures(docs))
    val words = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("w"))
    cands
      .join(words.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("w", "wa"), "doc_a")
      .join(words.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("w", "wb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("wa"), col("wb"))).cast(DoubleType) /
          size(array_union(col("wa"), col("wb"))), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Naive single-stage SimHash pipeline (reference implementation for
    * the equivalence spec): band + verify every doc, including exact
    * copies.
    */
  def simhashNearDupNaive(spark: SparkSession, sfDir: String): DataFrame = {
    SimHash64.register(spark)
    NearDup.hammingPairs(Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr("simhash64(text)").as("sh")), "sh", SimhashMaxHamming)
      .orderBy("doc_a", "doc_b")
  }
}
