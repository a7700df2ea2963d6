package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity
import graft.ext.{Ivf, VectorIndex}

/** ANN LSH quality gate: on a corpus with PLANTED near-duplicate vectors
  * the banded multi-probe pipeline must recover (nearly) all of them —
  * the brute-force top-k ground truth — while doing only linear candidate
  * work. Complements the rows-only CORRECTNESS entry for q_ann_lsh.
  */
class SimilaritySpec extends AnyFunSuite with SparkTest {

  private val Dim = 64
  private val NBase = 500
  private val NPlanted = 20

  /** 500 random vectors + 20 near-copies (2% noise) of vectors 0..19.
    * Planted pair (i, 1000+i) has cosine ~0.998; random 64-dim pairs
    * concentrate near 0 (sd ~ 1/8), so ground-truth top-20 IS the
    * planted set.
    */
  private lazy val corpus: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(7)
    val base = (0 until NBase).map { i =>
      (i.toLong, Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val planted = (0 until NPlanted).map { i =>
      val src = base(i)._2
      (1000L + i, src.map(v => v + (rnd.nextDouble() * 2 - 1).toFloat * 0.02f))
    }
    base ++ planted
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < Dim) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("bitsPerBand keeps expected bucket size near the 64-vector target") {
    assert(Similarity.bitsPerBand(64L) == 1)         // tiny corpus floor
    assert(Similarity.bitsPerBand(520L) == 4)        // 520/2^4 = 32 <= 64
    assert(Similarity.bitsPerBand(1000000L) == 14)   // 1e6/2^14 = 61 <= 64
    assert(Similarity.bitsPerBand(1000000000L) == 16) // clamped ceiling
    // The adaptive property the round-2 fixed constant lacked: signature
    // width grows with n, so bucket size (and the in-bucket pair join)
    // stays bounded instead of growing linearly with the corpus.
    assert(Similarity.bitsPerBand(1000000L) > Similarity.bitsPerBand(1000L))
  }

  test("bandsFor grows the band count as signature width erodes per-band recall") {
    // Per-band collision p0^r falls with r; the band count must rise to
    // hold 1-(1-p0^r)^B >= 0.95 at the cos=0.95 design point.
    assert(Similarity.bandsFor(4) == 4)   // floor
    assert(Similarity.bandsFor(16) > Similarity.bandsFor(7))
    assert(Similarity.bandsFor(16) <= 16) // ceiling
    // Overall recall with the chosen B stays >= target at every r.
    val p0 = 1.0 - math.acos(0.95) / math.Pi
    (1 to 16).foreach { r =>
      val b = Similarity.bandsFor(r)
      val recall = 1.0 - math.pow(1.0 - math.pow(p0, r), b)
      assert(recall >= 0.95 || b == 16, s"r=$r B=$b recall=$recall")
    }
  }

  test("annPairs recalls planted near-duplicates vs brute-force ground truth") {
    import spark.implicits._
    val df = corpus.toDF("vec_id", "embedding")

    // Brute-force ground truth, driver-side (520 vectors): top-20 pairs.
    val all = corpus.toArray
    val truth = (for {
      i <- all.indices.iterator
      j <- (i + 1) until all.length
    } yield ((all(i)._1 min all(j)._1, all(i)._1 max all(j)._1), cos(all(i)._2, all(j)._2)))
      .toSeq.sortBy(-_._2).take(NPlanted)
    val truthPairs = truth.map(_._1).toSet
    assert(truthPairs == (0 until NPlanted).map(i => (i.toLong, 1000L + i)).toSet,
      "fixture sanity: ground-truth top-20 must be the planted pairs")

    val ann = Similarity.annPairs(df)
      .orderBy(org.apache.spark.sql.functions.col("cos_sim").desc)
      .limit(NPlanted)
      .collect()
      .map(r => (r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1)))
      .toSet

    val recall = (ann & truthPairs).size.toDouble / NPlanted
    assert(recall >= 0.9, s"ANN recall $recall < 0.9; found=${ann.size} truth=$truthPairs ann=$ann")
  }

  test("exactPairs is the brute-force ground truth and annPairs recalls it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = corpus.toDF("vec_id", "embedding")

    // q_embed_near_dup's kernel (exactPairs) must agree pair-for-pair
    // with the driver-side brute force on the planted corpus...
    val exact = Similarity.exactPairs(df)
      .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
      .limit(NPlanted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == (0 until NPlanted).map(i => (i.toLong, 1000L + i)).toSet,
      s"exact top-$NPlanted must be the planted pairs, got $exact")

    // ...and the LSH scale path (q_ann_lsh) must recall >= 90% of that
    // exact twin's pairs — the relation that lets a 100 TB run use LSH
    // with the bounded exact operator as its audit.
    val ann = Similarity.annPairs(df)
      .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
      .limit(NPlanted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ann & exact).size.toDouble / NPlanted
    assert(recall >= 0.9, s"LSH recall vs exact twin $recall < 0.9")
  }

  test("ivfSearch finds the planted near-duplicate of each probe vector") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = corpus.toDF("vec_id", "embedding")
    val lookup = corpus.toMap
    // Build the index ONCE (the production shape — assignment is a
    // one-time build cost), then probe with each planted copy's vector;
    // the original must surface in the top-3 (cos ~0.998 vs ~0 for random
    // vectors; the copy itself ranks first at cos 1.0). IVF can only miss
    // when quantization puts the pair in different cells AND nprobe
    // misses the twin cell — near-identical vectors almost always share a
    // nearest centroid.
    val index = Ivf.Frame(df)
    val found = (0 until NPlanted).count { i =>
      val hits = Ivf
        .ivfQuery(index, Ivf.Anchor(lookup(1000L + i)), Ivf.TopK(3), nprobe = 4)
        .collect().map(_.getLong(0)).toSet
      hits.contains(i.toLong)
    }
    val recall = found.toDouble / NPlanted
    assert(recall >= 0.9, s"IVF recall $recall < 0.9")
  }

  test("kmeansRefine improves quantizer quality and keeps IVF recall") {
    import spark.implicits._
    val df = corpus.toDF("vec_id", "embedding")
    val init = Similarity.seedCentroids(df)
    val (refined, hist) = Similarity.kmeansRefine(df, init, iters = 4)
    // Lloyd property: mean assignment cosine must not degrade from seed
    // to final (small tolerance for double-sum partition-order jitter).
    assert(hist.size == 4)
    assert(hist.last >= hist.head - 1e-9, s"quality regressed: $hist")
    // On the random corpus the seed sample is a poor quantizer; real
    // refinement must show actual improvement, not just non-degradation.
    assert(hist.last > hist.head + 0.01, s"no measurable improvement: $hist")
    // The refined index must still find every planted near-duplicate.
    val lookup = corpus.toMap
    val index = Ivf.Frame(df, Some(refined))
    val found = (0 until NPlanted).count { i =>
      val hits = Ivf.ivfQuery(index, Ivf.Anchor(lookup(1000L + i)), Ivf.TopK(3), nprobe = 4)
        .collect().map(_.getLong(0)).toSet
      hits.contains(i.toLong)
    }
    assert(found.toDouble / NPlanted >= 0.9, s"refined IVF recall ${found.toDouble / NPlanted}")
  }

  test("annPairs verified cosine matches exact cosine on planted pairs") {
    import spark.implicits._
    val df = corpus.toDF("vec_id", "embedding")
    val byPair = Similarity.annPairs(df).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lookup = corpus.toMap
    (0 until NPlanted).foreach { i =>
      byPair.get((i.toLong, 1000L + i)).foreach { got =>
        val exact = cos(lookup(i.toLong), lookup(1000L + i))
        assert(math.abs(got - exact) < 1e-3, s"pair ($i, ${1000 + i}): $got vs $exact")
      }
    }
  }

  test("widenedNprobe widens by inverse selectivity and clamps to the cell count") {
    // s = 0.1 → 10× the base width: same expected in-predicate candidate
    // budget as the unfiltered probe.
    assert(Ivf.widenedNprobe(4, 1000L, 100L, 1000) == 40)
    // s = 1 (no-op predicate) → base width.
    assert(Ivf.widenedNprobe(4, 1000L, 1000L, 1000) == 4)
    // ultra-selective predicate clamps to the cell count (full sweep —
    // though the cutover sends this case to the exact branch anyway).
    assert(Ivf.widenedNprobe(4, 1000000L, 10L, 300) == 300)
    // empty predicate: degenerate, stays at base (result is empty).
    assert(Ivf.widenedNprobe(4, 1000L, 0L, 300) == 4)
  }

  test("annFilteredSearch selective branch equals driver-side filtered brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // label = vec_id % 10 → m ≈ 52 for label 3 on the 520-vector corpus:
    // under FilteredBruteFactor·k = 80, so the EXACT branch runs. Its
    // top-k must equal the driver-side filtered ground truth, bit-for-bit
    // on the 4-decimal rounded scores.
    val labeled = corpus.map { case (id, emb) => (id, emb, (id % 10).toInt) }
    val df = labeled.toDF("vec_id", "embedding", "label")
    val anchor = corpus.head._2 // vec 0
    val rest = df.filter(col("vec_id") =!= 0)
    val got = Ivf
      .ivfQuery(Ivf.Frame(rest), Ivf.Anchor(anchor), Ivf.TopK(10), nprobe = 4,
        filter = Some(Ivf.Label.of(rest, 3)))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val truth = labeled
      .filter { case (id, _, l) => l == 3 && id != 0L }
      .map { case (id, emb, _) => (id, math.round(cos(anchor, emb) * 10000).toDouble / 10000) }
      .sortBy { case (id, c) => (-c, id) }
      .take(10)
    assert(got == truth, s"filtered exact branch diverged:\n  got:   $got\n  truth: $truth")
    // Every returned row satisfies the predicate by construction of the
    // ground truth — and the exact branch marks cell = -1 (no quantizer).
    assert(Ivf
      .ivfQuery(Ivf.Frame(rest), Ivf.Anchor(anchor), Ivf.TopK(10), 4,
        filter = Some(Ivf.Label.of(rest, 3)))
      .collect().forall(_.getInt(1) == -1))
  }

  test("annFilteredSearch broad branch probes wider and keeps planted recall under the predicate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Half the corpus carries the target label (m = 260 > 80) → the
    // widened-probe branch runs: nprobe scales 4 → 8 at s = 0.5. Planted
    // twins on even ids share the label, so probing with the copy's
    // vector must surface the original — recall under a predicate is the
    // property a post-filtering vector store can silently lose.
    val labeled = corpus.map { case (id, emb) => (id, emb, if (id % 2 == 0) 3 else 1) }
    val df = labeled.toDF("vec_id", "embedding", "label")
    val lookup = corpus.toMap
    val evens = (0 until NPlanted).filter(_ % 2 == 0)
    var found = 0
    evens.foreach { i =>
      val rows = Ivf
        .ivfQuery(Ivf.Frame(df), Ivf.Anchor(lookup(1000L + i)), Ivf.TopK(3), nprobe = 4,
          filter = Some(Ivf.Label.of(df, 3)))
        .collect()
      // Predicate totality: nothing outside label 3 may appear (labels
      // here are even ids — 1000+i keeps the parity of i).
      assert(rows.forall(_.getLong(0) % 2 == 0),
        s"probe $i returned an out-of-predicate row: ${rows.mkString(",")}")
      // The probe branch ran (cells are real, not the exact marker).
      assert(rows.forall(_.getInt(1) >= 0), s"probe $i fell back to the exact branch")
      if (rows.map(_.getLong(0)).contains(i.toLong)) found += 1
    }
    val recall = found.toDouble / evens.size
    assert(recall >= 0.9, s"filtered probe recall $recall < 0.9")
  }

  test("q_ann_filtered_probe equals q_ann_filtered on both strategy branches") {
    // Same quantizer (both train on the anchor-excluded corpus), same
    // selectivity measurement, same cost-based cutover — so the persisted
    // probe must agree with the in-memory search on (vec_id, cos_sim).
    // (`cell` legitimately differs on the exact branch: the in-memory
    // scan marks -1, the postings scan reports the stored cell.)
    def rows(name: String, sfDir: String) =
      SparkEntry.queries(name)(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // sf0.001: m ≈ 50 ≤ 8k → EXACT branch on both sides.
    assert(rows("q_ann_filtered", "/root/testdata/sf0.001") ==
      rows("q_ann_filtered_probe", "/root/testdata/sf0.001"))
    // sf0.1: m ≈ 200 > 8k → widened-PROBE branch on both sides; the
    // persisted output must come from real probed cells.
    val probeSf = "/root/testdata/sf0.1"
    val persisted = SparkEntry.queries("q_ann_filtered_probe")(spark, probeSf).collect()
    assert(persisted.forall(_.getInt(1) >= 0), "probe branch did not run")
    assert(rows("q_ann_filtered", probeSf) ==
      persisted.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
  }

  test("q_ann_ivf_probe (persisted partition-pruned index) equals the in-memory probe with the same quantizer") {
    import org.apache.spark.sql.functions.col
    // Layout equivalence: given the SAME quantizer (the persisted
    // centroid table), probing the partitionBy(cell_id) parquet index
    // must be row-identical to assigning + probing in memory — so the
    // persisted layout inherits ivfSearch's planted-recall pin above.
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q_ann_ivf_probe")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val e = graft.core.Tables(spark, sf, "embeddings")
    val anchor = e.filter(col("vec_id") === 0)
      .head().getSeq[Float](e.columns.indexOf("embedding")).toArray
    val dir = Ivf.ensureIvfIndex(spark, sf)
    val cents = spark.read.parquet(s"$dir/centroids").orderBy("cell_id").collect()
      .map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
    val mem = Ivf
      .ivfQuery(Ivf.Frame(e.filter(col("vec_id") =!= 0), Some(cents)),
        Ivf.Anchor(anchor), Ivf.TopK(10), nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got.nonEmpty && got == mem,
      s"persisted probe diverged from in-memory probe:\n  persisted: $got\n  in-memory: $mem")
    // The stronger claim (the persisted quantizer trains on the same
    // anchor-excluded corpus as q_ann_ivf): the registry entries
    // themselves must be row-identical.
    val inMemoryEntry = SparkEntry.queries("q_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == inMemoryEntry,
      s"q_ann_ivf_probe diverged from q_ann_ivf:\n  probe: $got\n  ivf: $inMemoryEntry")
  }

  test("rangeIvfIndex at nprobe = C is the exact brute-force threshold scan; planted twin surfaces at nprobe = 4") {
    import spark.implicits._
    val df = corpus.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivf_range")
    Ivf.writeIvfIndex(spark, dir, df)
    val lookup = corpus.toMap
    val anchor = lookup(3L)
    val cents = spark.read.parquet(s"$dir/centroids").count().toInt
    // Exactness: probing EVERY cell makes range search the brute-force
    // threshold scan — membership AND order must coincide (the engine
    // rounds HALF_UP to 4 dp; the twin must too).
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tau = 0.25
    val got = Ivf.ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(anchor, Some(3L)),
        Ivf.Range(tau), nprobe = cents)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val brute = corpus.filter(_._1 != 3L)
      .map { case (id, v) => (id, r4(cos(anchor, v))) }
      .filter(_._2 >= tau)
      .sortBy { case (id, c) => (-c, id) }
    assert(got.nonEmpty && got == brute,
      s"full-probe range search diverged from brute force:\n  got: $got\n  brute: $brute")
    // Recall: the planted twin (cos ~0.998) is the ONLY vector above 0.9,
    // and a narrow 4-cell probe must still surface it (same cell as its
    // near-identical source).
    val tight = Ivf.ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(anchor, Some(3L)),
        Ivf.Range(0.9), nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(tight == Seq(1003L),
      s"narrow-probe range search missed the planted twin: $tight")
  }

  test("ADC range search: worst ADC error sits inside the margin, and output is row-identical to the full-precision range") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = corpus.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivfpq_range")
    Ivf.writeIvfIndex(spark, dir, df)
    val cb = VectorIndex.Codebooks.read(spark, dir)
    val lookup = corpus.toMap
    // Empirical margin audit: the codes-only pre-filter at tau - margin
    // keeps every true match iff per-pair |ADC - exact| < margin. Audit
    // the WHOLE corpus against 5 anchors.
    val cents = VectorIndex.IvfCentroids.read(spark, dir)
    val rows = spark.read.parquet(s"$dir/postings")
      .select(col("vec_id"), col("embedding"), col("code"),
        col("cell_id").cast("int")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getAs[Array[Byte]](2), r.getInt(3)))
    var maxErr = 0.0
    var maxErrQuarter = 0.0 // worst among pairs with exact >= 0.25
    (0L until 5L).foreach { aId =>
      val a = lookup(aId)
      rows.foreach { case (_, emb, code, cell) =>
        val exact = cos(a, emb)
        val err = math.abs(
          SimilaritySpec.adcApproxResidual(cb, cents, cell, a, code) - exact)
        if (err > maxErr) maxErr = err
        if (exact >= 0.25 && err > maxErrQuarter) maxErrQuarter = err
      }
    }
    // The build committed per-index audited errors in the manifest: the
    // all-pairs worst plus a LADDER of exact>=t-conditioned worsts — a
    // tau>=t pre-filter can only wrongly drop pairs with exact >= tau,
    // so the tightest applicable ladder bound governs. The whole-corpus
    // worst TRUE-MATCH-side error must sit inside the derived margin,
    // or the pre-filter could drop a true match.
    val manifest = Ivf.readIvfManifest(dir)
    assert(manifest.adcErr > 0.0 && manifest.adcErr < 1.0,
      s"build did not commit a sane audited ADC error: ${manifest.adcErr}")
    assert(manifest.adcErrLadder.nonEmpty, "no conditioned ladder committed")
    // Ladder sanity: monotone non-increasing in the threshold, each
    // bucket inside the unconditional worst.
    manifest.adcErrLadder.sliding(2).foreach {
      case Seq((t1, e1), (t2, e2)) =>
        assert(t1 < t2 && e1 >= e2, s"ladder not monotone: ${manifest.adcErrLadder}")
      case _ =>
    }
    assert(manifest.adcErrLadder.forall(_._2 <= manifest.adcErr))
    val margin = Ivf.adcMarginFor(manifest, tau = 0.25)
    assert(margin >= Ivf.AdcRangeMargin)
    assert(maxErrQuarter < margin,
      f"ADC error $maxErrQuarter%.4f (exact>=0.25 pairs) exceeds the derived margin $margin%.4f")
    // A negative tau falls back to the unconditional (all-pairs) bound.
    assert(Ivf.adcMarginFor(manifest, tau = -0.5) >=
      manifest.adcErr * Ivf.AdcMarginHeadroom)
    // A synthetic high-error audit (a distribution this codebook fits
    // badly) must WIDEN the margin rather than silently dropping matches.
    assert(Ivf.adcMarginFor(
      manifest.copy(adcErrLadder = Seq(0.0 -> 0.5, 0.25 -> 0.5)), tau = 0.25) >= 0.85)
    // Ledger invariant: mutators carry the audit forward — only a
    // retrain (rebuild) may change it.
    Ivf.ivfIndexAppend(spark, dir,
      Seq((9001L, lookup(0L).map(x => (x * 0.99f)))).toDF("vec_id", "embedding"))
    assert(Ivf.readIvfManifest(dir).adcErr == manifest.adcErr,
      "append did not preserve the audited ADC error")
    // With every error inside the margin, the ADC range is COMPLETE: it
    // must equal the full-precision range row-for-row, at a broad tau
    // (data-sized result) and at the planted-twin tau.
    Seq(0.25, 0.9).foreach { tau =>
      val adc = Ivf.ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(3L), Some(3L)),
          Ivf.Range(tau), nprobe = 8, scorer = Ivf.Adc())
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val full = Ivf.ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(3L), Some(3L)),
          Ivf.Range(tau), nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(adc == full,
        s"ADC range diverged from full-precision at tau=$tau:\n  adc: $adc\n  full: $full")
    }
  }

  test("rangeIvfIndexBatch equals per-anchor single range searches on the same persisted index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = corpus.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivf_range_batch")
    Ivf.writeIvfIndex(spark, dir, df)
    val nAnchors = 5
    val tau = 0.25
    val batchOut = Ivf
      .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchors(df.filter(col("vec_id") < nAnchors)),
        Ivf.Range(tau), nprobe = 8)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
      }
    val lookup = corpus.toMap
    (0 until nAnchors).foreach { i =>
      val single = Ivf
        .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(i.toLong), Some(i.toLong)),
          Ivf.Range(tau), nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(batchOut.getOrElse(i.toLong, Seq.empty) == single,
        s"batched range for anchor $i diverged:\n  batch: ${batchOut.get(i.toLong)}\n  single: $single")
    }
    // Non-vacuity: at least one anchor has a threshold match (anchor 0's
    // planted twin sits at cos ~0.998).
    assert(batchOut.nonEmpty && batchOut.values.exists(_.nonEmpty))
  }

  test("q_ann_ivf_batch equals per-anchor single probes on the same persisted index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = corpus.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivf_batch")
    Ivf.writeIvfIndex(spark, dir, df)
    val nAnchors = 5
    val batchOut = Ivf
      .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchors(df.filter(col("vec_id") < nAnchors)),
        Ivf.TopK(5), nprobe = 4)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(4)).map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
      }
    val lookup = corpus.toMap
    (0 until nAnchors).foreach { i =>
      val single = Ivf
        .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(i.toLong), Some(i.toLong)),
          Ivf.TopK(5), nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(batchOut.get(i.toLong).contains(single),
        s"batched probe for anchor $i diverged:\n  batch: ${batchOut.get(i.toLong)}\n  single: $single")
    }
  }

  test("filtered batch probe equals per-anchor filtered single probes on the same persisted index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Even ids carry the target label: m = 260 of n = 520 (s = 0.5) —
    // the widened-probe regime on both the batched and single paths.
    val labeled = corpus.map { case (id, emb) => (id, emb, if (id % 2 == 0) 3 else 1) }
    val df = labeled.toDF("vec_id", "embedding", "label")
    val dir = graft.core.TempDirs.create("graft_ivf_fbatch")
    Ivf.writeIvfIndex(spark, dir, df)
    val (n, m) = (520L, 260L)
    val nAnchors = 5
    val batchOut = Ivf
      .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchors(df.filter(col("vec_id") < nAnchors)),
        Ivf.TopK(5), nprobe = 4, filter = Some(Ivf.Label(3, n, m)))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(4)).map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
      }
    val lookup = corpus.toMap
    (0 until nAnchors).foreach { i =>
      val single = Ivf
        .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(i.toLong), Some(i.toLong)),
          Ivf.TopK(5), nprobe = 4, filter = Some(Ivf.Label(3, n, m)))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(single.forall(_._1 % 2 == 0), s"anchor $i: out-of-predicate row in $single")
      assert(batchOut.get(i.toLong).contains(single),
        s"filtered batch diverged for anchor $i:\n  batch: ${batchOut.get(i.toLong)}\n  single: $single")
    }
  }

  test("IVF lifecycle: rows that arrive through the stream step are probe-visible") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.functions.col
    import graft.core.IndexLifecycle.{Scenario, Stream}
    // Seed = the 500 base vectors; the 20 planted near-copies (ids
    // 1000+) arrive THROUGH the scenario's stream step. Probing with a
    // planted copy's own vector must return the copy at rank 1 (cos 1.0)
    // — which can only happen if the streamed micro-batch was committed
    // into the index — and its original in the top 3.
    val sfDir = graft.core.TempDirs.create("graft_ann_ingest_src")
    val df = corpus.toDF("vec_id", "embedding")
    df.coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(sfDir, "embeddings.parquet").getPath)
    val seedDir = graft.core.TempDirs.create("graft_ann_ingest_seed")
    Ivf.IvfIndex.write(seedDir, df.filter(col("vec_id") < 1000))
    // The IVF family, seeded from this corpus instead of a fixture.
    val ivf = Ivf.IvfIndex
    val family = new graft.core.IndexFamily {
      def store = ivf.store
      val table = ivf.table
      def seed(s: SparkSession, d: String) = (seedDir, 1000L)
      def write(dir: String, rows: DataFrame) = ivf.write(dir, rows)
      def append(s: SparkSession, dir: String, rows: DataFrame, key: Option[String]) =
        ivf.append(s, dir, rows, key)
      def compact(s: SparkSession, dir: String) = ivf.compact(s, dir)
      def rebuild(dir: String, corpus: DataFrame) = ivf.rebuild(dir, corpus)
    }
    val lookup = corpus.toMap
    val got = Scenario(family, "unused", Seq(Stream(r => r.slice(r.cut))), (r, _) =>
      Ivf.ivfQuery(Ivf.Stored(spark, r.dir), Ivf.Anchor(lookup(1000L)), Ivf.TopK(10),
        nprobe = 4))(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(got.head == 1000L, s"streamed row not at rank 1: $got")
    assert(got.take(3).contains(0L), s"original of the planted copy missing: $got")
  }

  test("a rebuilt scratch copy probes with its fresh quantizer, not the template's") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import VectorIndex.IvfCentroids
    val df = corpus.toDF("vec_id", "embedding")
    val template = graft.core.TempDirs.create("graft_ivf_qstore")
    Ivf.writeIvfIndex(spark, template, df.filter(col("vec_id") < 300))
    val old = IvfCentroids.read(spark, template)
    val copy = graft.core.Warehouse.scratchFromSeed(template, "graft_ivf_qstore_copy")
    // Before the rebuild the copy shares the template's cached quantizer.
    assert(IvfCentroids.read(spark, copy) eq old)
    Ivf.ivfIndexAppend(spark, copy, df.filter(col("vec_id") >= 300))
    Ivf.ivfIndexRebuild(spark, copy)
    def onDisk(table: String, order: String) =
      spark.read.parquet(new java.io.File(copy, table).getPath).orderBy(order).collect()
    val fresh = IvfCentroids.read(spark, copy)
    assert(fresh.map(_.toSeq).toSeq ==
      onDisk("centroids", "cell_id").map(_.getSeq[Float](1)).toSeq)
    assert(fresh.length != old.length || fresh.map(_.toSeq).toSeq != old.map(_.toSeq).toSeq,
      "the rebuild kept the template's quantizer")
    assert(VectorIndex.Codebooks.read(spark, copy).cents.flatten.map(_.toSeq).toSeq ==
      onDisk("codebooks", "sub").sortBy(r => (r.getInt(0), r.getInt(1)))
        .map(_.getSeq[Float](2)).toSeq)
    assert(IvfCentroids.read(spark, template) eq old)
    // The probe chooses its cells from the FRESH quantizer.
    val q = corpus.toMap.apply(1000L)
    val probed = Similarity.chooseCells(fresh, q, 4).toSet
    val got = Ivf.ivfQuery(Ivf.Stored(spark, copy), Ivf.Anchor(q), Ivf.TopK(10), nprobe = 4)
      .collect().map(_.getInt(1))
    assert(got.nonEmpty && got.forall(probed), s"cells ${got.toSeq} outside $probed")
  }

  test("ivfIndexCompact merges batches probe-identically, crash-safely, and GCs old dirs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = corpus.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivf_compact")
    // Seed + two appends → three committed batches.
    Ivf.writeIvfIndex(spark, dir, df.filter(col("vec_id") < 400))
    Ivf.ivfIndexAppend(spark, dir,
      df.filter(col("vec_id") >= 400 && col("vec_id") < 1000))
    Ivf.ivfIndexAppend(spark, dir, df.filter(col("vec_id") >= 1000))
    val lookup = corpus.toMap
    def probe(i: Int) = Ivf
      .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(1000L + i)), Ivf.TopK(5), nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    def batchDirs() = Option(new java.io.File(dir, "postings").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).sorted
    val before = (0 until 5).map(probe)
    assert(Ivf.readIvfManifest(dir).batches.size == 3)
    assert(batchDirs().length == 3)

    // Crash window: a staged compact dir present but no manifest swap —
    // probes are unaffected (read only committed batches).
    val orphan = new java.io.File(dir, ".compact_batch_99")
    orphan.mkdirs()
    assert((0 until 5).map(probe) == before)
    graft.core.Warehouse.deleteRecursively(orphan)

    Ivf.ivfIndexCompact(spark, dir)
    // One referenced batch, old dirs GC'd, probes row-identical.
    val m = Ivf.readIvfManifest(dir)
    assert(m.batches.size == 1, s"manifest still lists ${m.batches}")
    assert(batchDirs().length == 1, s"old batch dirs not GC'd: ${batchDirs().mkString(",")}")
    assert((0 until 5).map(probe) == before, "compaction changed probe output")
    // Idempotent on a single-batch index.
    Ivf.ivfIndexCompact(spark, dir)
    assert((0 until 5).map(probe) == before)
  }

  test("ivfIndexAppend commit protocol: uncommitted batches are invisible to probes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // A crashed append = batch directory present, manifest not yet
    // replaced. Simulate exactly that window by restoring the pre-append
    // manifest after a successful append: probes must serve the
    // pre-append index (no phantom rows); restoring the post-append
    // manifest must make the same rows visible again.
    val a = corpus.toDF("vec_id", "embedding")
    val batch = corpus.take(3)
      .map { case (id, v) => (100000L + id, v.map(x => x * 0.999f)) }
      .toSeq.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivf_crash")
    Ivf.writeIvfIndex(spark, dir, a)
    val manifestPath = new java.io.File(dir, "manifest.json").toPath
    val preAppend = java.nio.file.Files.readAllBytes(manifestPath)
    Ivf.ivfIndexAppend(spark, dir, batch)
    val postAppend = java.nio.file.Files.readAllBytes(manifestPath)
    val lookup = corpus.toMap
    def hits() = Ivf.ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(0L)), Ivf.TopK(5), nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(hits().contains(100000L), "committed append row should be visible")
    java.nio.file.Files.write(manifestPath, preAppend)
    val orphaned = hits()
    assert(!orphaned.exists(_ >= 100000L),
      s"uncommitted (orphaned) batch rows leaked into a probe: $orphaned")
    java.nio.file.Files.write(manifestPath, postAppend)
    assert(hits().contains(100000L), "re-committed batch should be visible again")
  }

  test("ivfIndexAppend is idempotent on an ingestKey: a replayed micro-batch is a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // foreachBatch is at-least-once: a crash after the manifest commit
    // but before the streaming checkpoint replays the micro-batch. The
    // ingest-key ledger must make the replay a no-op — no duplicate
    // batch_id, no duplicate vec_ids in probe top-k (ADVICE r9, medium).
    val a = corpus.toDF("vec_id", "embedding")
    val batch = corpus.take(3)
      .map { case (id, v) => (100000L + id, v.map(x => x * 0.999f)) }
      .toSeq.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivf_idem")
    Ivf.writeIvfIndex(spark, dir, a)
    Ivf.ivfIndexAppend(spark, dir, batch, ingestKey = Some("stream-7"))
    val m1 = Ivf.readIvfManifest(dir)
    assert(m1.ingestKeys == Seq("stream-7"))
    val lookup = corpus.toMap
    def topIds() = Ivf.ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(0L)), Ivf.TopK(5), nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    val before = topIds()
    // Replay the SAME micro-batch (same key): everything must be unchanged.
    Ivf.ivfIndexAppend(spark, dir, batch, ingestKey = Some("stream-7"))
    val m2 = Ivf.readIvfManifest(dir)
    assert(m2 == m1, s"replayed append mutated the manifest: $m1 -> $m2")
    assert(topIds() == before)
    assert(topIds().distinct == topIds(), "duplicate vec_ids in top-k after replay")
    // A NEW key still appends; keys survive compaction so later replays
    // of either batch stay no-ops.
    Ivf.ivfIndexAppend(spark, dir,
      batch.withColumn("vec_id", col("vec_id") + 10), ingestKey = Some("stream-8"))
    assert(Ivf.readIvfManifest(dir).batches.size == 3)
    Ivf.ivfIndexCompact(spark, dir)
    val mc = Ivf.readIvfManifest(dir)
    assert(mc.batches.size == 1 && mc.ingestKeys == Seq("stream-7", "stream-8"),
      s"ingest-key ledger lost across compaction: $mc")
    val afterCompact = topIds()
    Ivf.ivfIndexAppend(spark, dir, batch, ingestKey = Some("stream-7"))
    assert(topIds() == afterCompact, "post-compaction replay was not a no-op")
  }

  test("ivfIndexDelete: tombstoned ids invisible pre- and post-compaction, ledger cleared, re-add after compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val a = corpus.toDF("vec_id", "embedding")
    // Near-copies of vector 0 with new ids — they will be the probe's
    // top hits, so deletion MUST re-rank the output.
    val twins = (0 until 3).map { i =>
      (100000L + i, corpus.head._2.map(x => x * (0.999f - i * 0.0001f)))
    }.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivf_delete")
    Ivf.writeIvfIndex(spark, dir, a)
    Ivf.ivfIndexAppend(spark, dir, twins)
    val lookup = corpus.toMap
    def topIds(k: Int = 5) = Ivf
      .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(0L), Some(0L)), Ivf.TopK(k), nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    val before = topIds()
    assert(before.take(3).toSet == Set(100000L, 100001L, 100002L),
      s"planted twins should lead pre-delete: $before")

    // Crash window: a staged delete (dir renamed, manifest NOT yet
    // swapped) must not affect probes.
    val manifestPath = new java.io.File(dir, "manifest.json").toPath
    val preDelete = java.nio.file.Files.readAllBytes(manifestPath)
    Ivf.IvfStore.delete(dir, Seq(100000L, 100001L).toDF("vec_id"))
    val postDelete = java.nio.file.Files.readAllBytes(manifestPath)
    java.nio.file.Files.write(manifestPath, preDelete)
    assert(topIds() == before, "uncommitted tombstones leaked into a probe")
    java.nio.file.Files.write(manifestPath, postDelete)

    // Committed: deleted ids invisible, k still filled by next-best.
    val after = topIds()
    assert(!after.contains(100000L) && !after.contains(100001L),
      s"tombstoned ids survived the probe: $after")
    assert(after.head == 100002L && after.length == 5,
      s"next-best should lead and k stay filled: $after")
    // ADC probes honor tombstones too.
    val adc = Ivf
      .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(0L), Some(0L)), Ivf.TopK(5), nprobe = 4,
        scorer = Ivf.Adc())
      .collect().map(_.getLong(0)).toSeq
    assert(!adc.contains(100000L) && !adc.contains(100001L),
      s"tombstoned ids survived the ADC probe: $adc")

    // Compaction materializes the deletion: probes identical, ledger
    // cleared, tombstone dirs GC'd, counts shrink by the dropped rows.
    val preCounts = Ivf.readIvfManifest(dir).cellCounts.values.sum
    Ivf.ivfIndexCompact(spark, dir)
    val m = Ivf.readIvfManifest(dir)
    assert(m.tombstoneBatches.isEmpty, s"ledger not cleared: $m")
    assert(m.cellCounts.values.sum == preCounts - 2,
      s"sentinel counts should drop by the 2 deleted rows: $preCounts -> ${m.cellCounts.values.sum}")
    assert(topIds() == after, "compaction changed the post-delete probe")
    val tombDirs = Option(new java.io.File(dir, "tombstones").listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
    assert(tombDirs.isEmpty, s"tombstone dirs not GC'd: ${tombDirs.map(_.getName).mkString(",")}")

    // The documented resurrect contract: append AFTER compaction makes
    // the id visible again.
    Ivf.ivfIndexAppend(spark, dir,
      Seq((100000L, corpus.head._2.map(x => x * 0.999f))).toDF("vec_id", "embedding"))
    assert(topIds().contains(100000L), "re-added id should be visible after compaction")
  }

  test("quantizer-drift sentinel: skewed appends trip rebuild_needed; a rebuild clears it") {
    import spark.implicits._
    val a = corpus.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivf_drift")
    Ivf.writeIvfIndex(spark, dir, a)
    val m0 = Ivf.readIvfManifest(dir)
    assert(!m0.rebuildNeeded,
      s"fresh index over the near-uniform corpus must start balanced: $m0")
    // Drifted ingest: many near-copies of ONE vector — every row lands in
    // the same cell, so max/median postings-per-cell climbs past the
    // threshold and the manifest self-reports that the fixed quantizer no
    // longer fits the data.
    val src = corpus.head._2
    val rnd = new scala.util.Random(11)
    val skewed = (0 until 400).map { i =>
      (200000L + i, src.map(v => v + (rnd.nextDouble() * 2 - 1).toFloat * 0.01f))
    }.toDF("vec_id", "embedding")
    Ivf.ivfIndexAppend(spark, dir, skewed)
    val m1 = Ivf.readIvfManifest(dir)
    assert(m1.imbalance > m0.imbalance && m1.rebuildNeeded,
      s"skewed append should trip the drift sentinel: before=$m0 after=$m1")
    // The operator response: retrain the quantizer over the full corpus.
    // Balance must be restored (the 400-copy cluster now gets cells of
    // its own) and the index stays correct (planted hit still surfaces).
    Ivf.writeIvfIndex(spark, dir, a.unionByName(skewed))
    val m2 = Ivf.readIvfManifest(dir)
    assert(m2.imbalance < m1.imbalance && !m2.rebuildNeeded,
      s"rebuild should restore balance: drifted=$m1 rebuilt=$m2")
    val lookup = corpus.toMap
    val hits = Ivf.ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(1000L)), Ivf.TopK(3), nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(0L), s"rebuilt index lost the planted neighbor of vec 1000: $hits")
  }

  test("ivfIndexRebuild retrains from the index's own content: sentinel clears, tombstoned ids drop, ingest-key ledger survives") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = corpus.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivf_rebuild")
    Ivf.writeIvfIndex(spark, dir, df.filter(col("vec_id") < 400))
    Ivf.ivfIndexAppend(spark, dir, df.filter(col("vec_id") >= 400),
      ingestKey = Some("k1"))
    Ivf.IvfStore.delete(dir, Seq(7L).toDF("vec_id"))
    val lookup = corpus.toMap
    val rnd = new scala.util.Random(17)
    val skew = (0 until 400).map { i =>
      (300000L + i, lookup(3L).map(v => v + (rnd.nextDouble() * 2 - 1).toFloat * 0.01f))
    }.toDF("vec_id", "embedding")
    Ivf.ivfIndexAppend(spark, dir, skew)
    assert(Ivf.readIvfManifest(dir).rebuildNeeded,
      "skewed append should have tripped the sentinel")
    Ivf.ivfIndexRebuild(spark, dir)
    val m = Ivf.readIvfManifest(dir)
    assert(!m.rebuildNeeded, s"rebuild left the sentinel tripped: $m")
    assert(m.batches == Seq(0L), s"rebuild should leave one batch: ${m.batches}")
    assert(m.tombstoneBatches.isEmpty, "rebuild should clear the tombstone ledger")
    assert(m.ingestKeys == Seq("k1"), s"ingest-key ledger lost: ${m.ingestKeys}")
    // The tombstoned id dropped PHYSICALLY (rebuild == materializing
    // compaction), and the postings carry exactly corpus∪skew minus it.
    val ids = spark.read.parquet(s"$dir/postings").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(7L), "tombstoned id survived the rebuild")
    assert(ids.size == corpus.size + 400 - 1)
    // A pre-rebuild micro-batch replay stays a no-op.
    Ivf.ivfIndexAppend(spark, dir, df.filter(col("vec_id") >= 400),
      ingestKey = Some("k1"))
    assert(Ivf.readIvfManifest(dir).batches == Seq(0L),
      "replayed ingestKey re-appended after rebuild")
    // Planted recall preserved by the retrained quantizer.
    val hits = Ivf.ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(1000L)), Ivf.TopK(3), nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(0L), s"rebuilt index lost the planted neighbor: $hits")
  }

  test("ivfIndexAppend: incremental batch ingest equals a full rebuild with the same quantizer") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // The refresh-on-ingest contract: write the index over corpus A,
    // append batch B against the EXISTING quantizer (O(batch·C), no
    // corpus re-scan), and every probe must equal the index built over
    // A ∪ B with that same quantizer — including probes whose best hits
    // live in the appended batch.
    val a = corpus.toDF("vec_id", "embedding")
    val batch = corpus.take(NPlanted)
      .map { case (id, v) => (100000L + id, v.map(x => (x * 0.999f))) }
      .toSeq.toDF("vec_id", "embedding") // near-copies of planted vectors, new ids
    val dir = graft.core.TempDirs.create("graft_ivf_append")
    Ivf.writeIvfIndex(spark, dir, a)
    Ivf.ivfIndexAppend(spark, dir, batch)
    val cents = VectorIndex.IvfCentroids.read(spark, dir)
    val full = a.unionByName(batch)
    val lookup = corpus.toMap
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    (0 until 5).foreach { i =>
      val anchor = lookup(i.toLong)
      val appended = rows(Ivf.ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(anchor),
        Ivf.TopK(5), nprobe = 4))
      val rebuilt = rows(Ivf.ivfQuery(Ivf.Frame(full, Some(cents)), Ivf.Anchor(anchor),
        Ivf.TopK(5), nprobe = 4))
      assert(appended == rebuilt,
        s"probe $i diverged after append:\n  appended: $appended\n  rebuilt: $rebuilt")
      // Non-vacuity: the appended near-copy of vector i must surface.
      assert(appended.exists(_._1 == 100000L + i),
        s"probe $i did not surface the appended near-copy: $appended")
    }
  }

  test("chooseCells branch-and-bound equals the linear scan cell-for-cell at large C") {
    // VERDICT r9 #4: past CoarseScanLimit centroids, cell choice runs an
    // exact triangle-inequality branch-and-bound over a grouped centroid
    // index instead of scanning all C. The bound is conservative, so the
    // output must be IDENTICAL to the linear scan — including tie
    // behavior (duplicated centroids planted below), edge widths
    // (nprobe 1 and > group size), and zero-norm centroids and queries,
    // whose NaN cosines rank below every number (the linear reference's
    // sort puts NaN last).
    val rnd = new scala.util.Random(31)
    val dim = 16
    val c = 5000 // > CoarseScanLimit = 4096
    val cents0: Array[Array[Float]] =
      Array.fill(10)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val cents = Array.tabulate(c) { i =>
      if (i >= 4990) cents0(i - 4990) // 10 duplicated centroids → exact ties
      else Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    }
    cents(123) = new Array[Float](dim)
    val ci = Similarity.buildCoarseIndex(cents)
    def linear(cents: Array[Array[Float]], q: Array[Float], np: Int): Seq[Int] = cents.zipWithIndex
      .map { case (cent, i) => (i, Similarity.cosineKernel(cent, q)) }
      .sortBy(-_._2).take(np).map(_._1).toSeq
    (0 until 201).foreach { qi =>
      val q =
        if (qi < 20) cents(rnd.nextInt(c)).map(v => v + 1e-4f) // near-centroid anchors
        else if (qi == 200) new Array[Float](dim)
        else Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
      Seq(1, 4, 16, 100).foreach { np =>
        val exact = Similarity.topCellsExact(ci, cents, q, np)
        val lin = linear(cents, q, np)
        assert(exact == lin,
          s"query $qi nprobe $np diverged:\n  b&b:    $exact\n  linear: $lin")
      }
      assert(Similarity.nearestCell(cents, q) == linear(cents, q, 1).head, s"query $qi kernel")
    }
    // Sims [0.1, 0.9, NaN] below CoarseScanLimit: the linear selector
    // must not let the zero-norm cell's NaN displace the best cell.
    val small = Array(Array(0.1f, math.sqrt(0.99).toFloat),
      Array(0.9f, math.sqrt(0.19).toFloat), Array(0f, 0f))
    val q = Array(1f, 0f)
    Seq(1, 2, 3).foreach { np =>
      assert(Similarity.chooseCells(small, q, np) == linear(small, q, np), s"nprobe $np")
    }
    assert(Similarity.chooseCells(small, q, 1) == Seq(1))
    assert(Similarity.nearestCell(small, q) == 1)
  }

  // ---- IVF-PQ ----------------------------------------------------------

  test("pqShortlist scales with probe width and is unchanged at the tuned default") {
    import Ivf.{pqShortlist, PqRefine}
    // Default width: exactly the historical k·refine — registry outputs,
    // goldens, and oracles are untouched by the scaling.
    assert(pqShortlist(10, PqRefine, 4) == 40)
    assert(pqShortlist(5, PqRefine, 4) == 20)
    // Wider probes grow the shortlist linearly (fixed-L dilution dropped
    // measured recall as nprobe grew — see the Scaladoc receipt).
    assert(pqShortlist(10, PqRefine, 8) == 80)
    assert(pqShortlist(10, PqRefine, 16) == 160)
    // Narrower-than-default probes keep the full default shortlist.
    assert(pqShortlist(10, PqRefine, 2) == 40)
    // Off-multiple widths widen too (ceiling division — ADVICE r9): a
    // floor division left nprobe 5-7 at the base shortlist despite up to
    // ~1.75x the candidate pool.
    assert(pqShortlist(10, PqRefine, 5) == 80)
    assert(pqShortlist(10, PqRefine, 7) == 80)
    assert(pqShortlist(10, PqRefine, 9) == 120)
  }

  /** The IVFADC kernels' inputs on the spec corpus: the coarse quantizer
    * the persisted index trains, the PQ training sample, and each
    * vector's nearest cell.
    */
  private def residualSetup(): (Array[Array[Float]], Array[Array[Float]], Map[Long, Int]) = {
    import spark.implicits._
    val df = corpus.toDF("vec_id", "embedding")
    val cents = Similarity.seedCentroids(df)
    val sample = Similarity.seedCentroidsK(df, Ivf.PqSample)
    (cents, sample, corpus.map { case (id, v) => id -> Similarity.nearestCell(cents, v) }.toMap)
  }

  test("pqTrainResidual is deterministic and codes are M bytes") {
    val (cents, sample, cellOf) = residualSetup()
    val cb1 = Ivf.pqTrainResidual(sample, cents)
    val cb2 = Ivf.pqTrainResidual(sample, cents)
    assert(cb1.m == Ivf.PqM && cb1.dsub == Dim / Ivf.PqM)
    (0 until cb1.m).foreach { sub =>
      cb1.cents(sub).zip(cb2.cents(sub)).foreach { case (a, b) =>
        assert(a.sameElements(b), s"codebook sub-space $sub not deterministic")
      }
    }
    val (id, v) = corpus.head
    val code = Ivf.pqEncodeResidual(cb1, cents(cellOf(id)), v)
    assert(code.length == Ivf.PqM,
      s"code must be ${Ivf.PqM} bytes, got ${code.length}")
    assert(Ivf.pqEncodeResidual(cb1, cents(cellOf(id)), v).sameElements(code),
      "encoding must be deterministic")
  }

  test("ADC on codes alone ranks each planted twin's original at the top") {
    // The pure quantization-quality gate (no probe, no re-rank): encode
    // the whole corpus, score every CODE against each planted copy's query
    // vector via the ADC table, and the true neighbor must rank in the
    // ADC top-3 — i.e. the 8-byte codes preserve the ranking signal the
    // probe's shortlist cut depends on. A broken ADC (constant scores,
    // wrong table indexing) fails here even though exact re-rank would
    // mask it downstream.
    val (cents, sample, cellOf) = residualSetup()
    val cb = Ivf.pqTrainResidual(sample, cents)
    val codes = corpus.map { case (id, v) =>
      id -> Ivf.pqEncodeResidual(cb, cents(cellOf(id)), v)
    }
    val lookup = corpus.toMap
    val found = (0 until NPlanted).count { i =>
      val q = lookup(1000L + i)
      val top = codes.filter(_._1 != 1000L + i)
        .map { case (id, c) => (id, SimilaritySpec.adcApproxResidual(cb, cents, cellOf(id), q, c)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
      top.contains(i.toLong)
    }
    assert(found.toDouble / NPlanted >= 0.9,
      s"ADC ranking recall ${found.toDouble / NPlanted} < 0.9")
  }

  test("ivfPqProbe finds the planted near-duplicate of each probe vector") {
    import spark.implicits._
    val df = corpus.toDF("vec_id", "embedding")
    val index = Ivf.Frame(df)
    val lookup = corpus.toMap
    val found = (0 until NPlanted).count { i =>
      val hits = Ivf.ivfQuery(index, Ivf.Anchor(lookup(1000L + i)), Ivf.TopK(3), nprobe = 4,
          scorer = Ivf.Adc())
        .collect().map(_.getLong(0)).toSet
      hits.contains(i.toLong)
    }
    val recall = found.toDouble / NPlanted
    assert(recall >= 0.9, s"IVF-PQ recall $recall < 0.9")
  }

  test("q_ann_ivfpq equals q_ann_ivfpq_probe (persisted ADC probe) row-for-row") {
    // Same anchor-excluded training corpus on both sides ⇒ same coarse
    // quantizer, same codebook, same ADC shortlist, same exact re-rank —
    // the persisted column-pruned layout must be a pure storage change.
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val mem = rows("q_ann_ivfpq")
    val persisted = rows("q_ann_ivfpq_probe")
    assert(mem.nonEmpty && mem == persisted,
      s"persisted ADC probe diverged:\n  in-memory: $mem\n  persisted: $persisted")
  }

  test("q_ann_ivfpq_batch equals per-anchor single ADC probes on the same persisted index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = corpus.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivfpq_batch")
    Ivf.writeIvfIndex(spark, dir, df)
    val nAnchors = 5
    val batchOut = Ivf
      .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchors(df.filter(col("vec_id") < nAnchors)),
        Ivf.TopK(5), nprobe = 4, scorer = Ivf.Adc())
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(4)).map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
      }
    val lookup = corpus.toMap
    (0 until nAnchors).foreach { i =>
      val single = Ivf
        .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(i.toLong), Some(i.toLong)),
          Ivf.TopK(5), nprobe = 4, scorer = Ivf.Adc())
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(batchOut.get(i.toLong).contains(single),
        s"batched ADC probe for anchor $i diverged:\n  batch: ${batchOut.get(i.toLong)}\n  single: $single")
    }
  }

  test("ivfIndexAppend encodes appended rows: ADC probes surface them") {
    import spark.implicits._
    val a = corpus.toDF("vec_id", "embedding")
    val batch = corpus.take(3)
      .map { case (id, v) => (300000L + id, v.map(x => x * 0.999f)) }
      .toSeq.toDF("vec_id", "embedding")
    val dir = graft.core.TempDirs.create("graft_ivfpq_append")
    Ivf.writeIvfIndex(spark, dir, a)
    Ivf.ivfIndexAppend(spark, dir, batch)
    val lookup = corpus.toMap
    val hits = Ivf.ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(lookup(0L)), Ivf.TopK(5), nprobe = 4,
        scorer = Ivf.Adc())
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(300000L),
      s"appended row must survive the ADC shortlist + re-rank: $hits")
  }

  test("q_ann_filtered_pq equals q_ann_filtered_probe row-for-row (filtered ADC == filtered exact)") {
    // The filtered x ADC corner of the retrieval matrix: the codes-only
    // candidate scan + exact re-rank must land on the same final top-k
    // as the full-precision filtered probe whenever the true neighbors
    // survive the ADC shortlist — the same equivalence pinned for
    // q_ann_ivfpq vs q_ann_ivf. (Both take the widened-probe branch at
    // this fixture's 10% selectivity only at sf0.1+; at the spec's sf
    // the selective exact branch makes the claim trivially exact — both
    // informative: branch parity is part of the contract.)
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val adc = rows("q_ann_filtered_pq")
    val exact = rows("q_ann_filtered_probe")
    assert(adc.nonEmpty && adc == exact,
      s"filtered ADC diverged from filtered exact:\n  adc:   $adc\n  exact: $exact")
  }

  test("q_mmr_rerank diversifies a planted near-dup cluster and matches an independent greedy") {
    import spark.implicits._
    // Anchor along e0. A 6-vector near-dup cluster at rel ~0.90 with
    // pairwise sim ~1 (same plane, jittered magnitude): pure relevance
    // top-k would return the whole cluster first. Five diverse vectors
    // sit at rel ~0.85 in mutually ORTHOGONAL planes, so their sim to
    // the cluster is ~0.9*0.85=0.77: after one cluster pick, MMR scores
    // cluster ~0.7*0.90-0.3*1.0=0.33 vs diverse ~0.7*0.85-0.3*0.77=0.36
    // — diversity must win ranks 2-6. 30 low-rel fillers keep the
    // shortlist full.
    def vec(main: Int, w: Double, alt: Int, wa: Double): Array[Float] = {
      val a = new Array[Float](64)
      a(main) = w.toFloat; a(alt) = wa.toFloat; a
    }
    val rows =
      Seq((0L, vec(0, 1.0, 1, 0.0), 0L)) ++
      (1L to 6L).map(i => (i, vec(0, 0.9, 1, 0.43 + 0.001 * i), 1L)) ++
      (10L to 14L).map(i => (i, vec(0, 0.85, (i - 8).toInt, 0.53), 2L)) ++
      (20L to 49L).map(i => (i, vec((i % 30 + 20).toInt, 1.0, 0, 0.1), 3L))
    val dir = graft.core.TempDirs.create("graft_mmr_spec")
    rows.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q_mmr_rerank")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == 10 && got.map(_._1).toSeq == (1L to 10L))
    // Diversity: at most one cluster member in the first 5 picks (pure
    // relevance would put all six first — their rel dominates).
    val clusterPicked = got.take(5).map(_._2).count(id => id >= 1 && id <= 6)
    assert(clusterPicked == 1, s"first-5 picks ${got.take(5).toSeq}")
    // First pick IS the relevance argmax.
    assert(got.head._3 == got.map(_._3).max,
      s"first pick rel ${got.head._3} != max ${got.map(_._3).max}")
    // Independent greedy replay from scratch (local cosines, same
    // rounding/tie rules) must reproduce the exact selection.
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = rows.map(t => t._1 -> t._2).toMap
    val rel = rows.collect { case (id, e, _) if id != 0L => id -> cos(e, byId(0L)) }.toMap
    val short = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(20)
    var remaining = short.map(_._1).toSet
    var picked = List.empty[Long]
    val expect = (1 to 10).map { k =>
      val best = remaining.toSeq.map { c =>
        val pen = if (picked.isEmpty) 0.0
          else picked.map(s => cos(byId(c), byId(s))).max
        (c, 0.7 * rel(c) - 0.3 * pen)
      }.minBy { case (c, s) => (-s, c) }
      remaining -= best._1; picked ::= best._1
      (k.toLong, best._1, rel(best._1),
        BigDecimal(best._2).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got.toSeq == expect)
  }

  test("q_knn_join equals a driver-side brute-force rank of every (query, corpus) pair") {
    import org.apache.spark.sql.functions.col
    // Independent ground truth: same kernel order (forward pass,
    // double-promoted floats), same 4-dp HALF_UP pre-round, same
    // (sim DESC, id ASC) tie-break — computed with plain Scala
    // collections, no Spark aggregation in the loop.
    val vecs = graft.core.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (queries, corpus) = vecs.partition(_._1 < 50L)
    val expected = queries.toSeq.sortBy(_._1).flatMap { case (qid, qe) =>
      corpus.toSeq.map { case (cid, ce) => (cid, cos(ce, qe)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(5).zipWithIndex
        .map { case ((cid, s), r) => (qid, (r + 1).toLong, cid, s) }
    }
    val got = SparkEntry.queries("q_knn_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
  }

  test("TopKAgg's exchange is k-bounded partial heaps, never the scored pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udaf}
    // 3 groups x 2000 scored rows spread over 8 input partitions: the
    // map-side partial caps each (group, partition) contribution at k,
    // so the one shuffle carries <= groups*k*partitions entries — the
    // property that makes the kNN JOIN viable at 100 TB, where the
    // window-function alternative would shuffle all |corpus|*|batch|
    // scored pairs. Pinned on actual shuffle-write metrics.
    val n = 2000
    val rows = (0 until 3).flatMap(g =>
      (0 until n).map(i => (g.toLong, ((i * 48271) % 997).toDouble, i.toLong)))
    val df = rows.toDF("g", "sim", "id").repartition(8)
    val topk = udaf(new graft.functions.Udafs.TopKAgg(5),
      org.apache.spark.sql.Encoders.product[graft.functions.Udafs.ScoredId])
    val agg = df.groupBy("g").agg(topk(col("sim"), col("id")).as("nn"))
    // AQE off so the static exchanges stay visible (same move as the
    // Exchanges receipt tool); metrics populate on execution.
    val shuffled = graft.core.SessionConf.scoped(spark, "spark.sql.adaptive.enabled", "false") {
      agg.queryExecution.toRdd.count()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: (p.children ++ p.subqueries).flatMap(walk)
      val aggShuffles = walk(agg.queryExecution.executedPlan)
        .collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
        // keep the hash exchange feeding the final agg; drop the round-robin
        // repartition(8) that builds the controlled input layout
        .filter(_.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
      assert(aggShuffles.nonEmpty)
      aggShuffles.map(_.metrics("shuffleRecordsWritten").value).sum
    }
    assert(shuffled > 0 && shuffled <= 3L * 5 * 8,
      s"aggregation exchange must carry k-bounded partials, saw $shuffled records")
    // And the partials are correct: final ranking == window re-rank.
    val winExpected = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, rs) =>
      rs.map { case (_, s, i) => (s, i) }.sortBy { case (s, i) => (-s, i) }
        .take(5).map { case (s, i) => (g, s, i) }
    }
    val got = agg.select(col("g"), org.apache.spark.sql.functions.explode(col("nn")))
      .select(col("g"), col("col.sim"), col("col.id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      .sortBy { case (g, s, i) => (g, -s, i) }
    assert(got == winExpected)
  }

  test("TopKAgg: a NaN similarity never outranks a real score") {
    // A zero-norm vector's cosine is NaN; it must lose a top-k slot to
    // ANY real candidate (even -Inf), never occupy one ahead of it —
    // but the order stays total (NaN ties break by id) so merge order
    // can't change the result.
    import graft.functions.Udafs.{ScoredId, TopKAgg}
    val agg = new TopKAgg(3)
    val xs = Seq(ScoredId(Double.NaN, 7L), ScoredId(0.9, 1L),
      ScoredId(Double.NegativeInfinity, 2L), ScoredId(0.1, 3L), ScoredId(Double.NaN, 4L))
    def run(items: Seq[ScoredId]): Seq[(Double, Long)] =
      agg.finish(items.foldLeft(agg.zero)(agg.reduce)).toSeq.map(s => (s.sim, s.id))
    val expect = Seq((0.9, 1L), (0.1, 3L), (Double.NegativeInfinity, 2L))
    assert(run(xs) == expect)
    assert(run(xs.reverse) == expect)
    // Split-and-merge (map-side partials) agrees with the linear fold.
    val (l, r) = xs.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged).toSeq.map(s => (s.sim, s.id)) == expect)
    // All-NaN input still fills deterministically (id-ordered).
    val allNaN = Seq(ScoredId(Double.NaN, 5L), ScoredId(Double.NaN, 2L), ScoredId(Double.NaN, 9L))
    assert(run(allNaN).map(_._2) == Seq(2L, 5L, 9L))
  }

  test("q_ann_lsh's corpus size is counted afresh when the fixture is rewritten in place") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_corpus_size")
    val path = s"$dir/embeddings.parquet"
    def writeAndCount(n: Int): Long = {
      (0 until n).map(i => (i.toLong, Array.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(path)
      Similarity.corpusSize(spark.read.parquet(path), dir)
    }
    assert(writeAndCount(3) == 3)
    assert(writeAndCount(7) == 7)
  }
}

object SimilaritySpec {
  import graft.ext.Ivf.{adcSum, adcTable, centDots, PqCodebook}

  /** Residual-ADC approximate cosine of one coded posting — the spec's
    * unit handle on IVFADC quantization error.
    */
  def adcApproxResidual(cb: PqCodebook, cents: Array[Array[Float]],
      cell: Int, query: Array[Float], code: Array[Byte]): Double =
    adcSum(adcTable(cb, query), centDots(cents, Seq(cell), query)(cell), code)
}
