package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{SemDedup, Similarity}

/** SemDeDup semantics gate (q_semdedup is a no-oracle entry — the k-means
  * cells have no SQL twin, so the contract is pinned here instead):
  *
  *  1. the distributed prune is IDENTICAL to a driver-side naive
  *     evaluation of the dominance rule over the same cell assignment;
  *  2. planted near-duplicates are removed (recall gate, same corpus
  *     discipline as the ANN specs);
  *  3. the survivor set is pairwise non-duplicate within every cell (the
  *     property the dominance rule guarantees by construction).
  */
class SemDedupSpec extends AnyFunSuite with SparkTest {

  private val Dim = 64
  private val NBase = 300
  private val NPlanted = 15
  private val Tau = 0.9

  /** Base vectors + near-copies (2% noise) of vectors 0..NPlanted-1 at
    * ids 1000+i: planted pair cosine ~0.998, random pairs concentrate
    * near 0, so at tau=0.9 the only near-duplicates are the planted ones.
    */
  private lazy val corpus: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(11)
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

  test("semdedupIndexIngest: batch flags equal the full recompute with the same quantizer; crash-orphan invisible") {
    import spark.implicits._
    // Corpus A seeds the index; batch B (ids above A's) carries planted
    // near-copies of A members (must come back removed), a near-copy of
    // an EARLIER B member (in-batch dominance), and fresh uniques (must
    // survive). Monotone ids — the documented ingest invariant.
    val rnd = new scala.util.Random(37)
    val a = corpus // ids 0..299 + planted 1000..1014
    val b0 = (0 until 10).map { i =>
      (5000L + i, a(i)._2.map(v => v + (rnd.nextDouble() * 2 - 1).toFloat * 0.02f))
    }
    val bFresh = (0 until 10).map { i =>
      (5100L + i, Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val bSelf = Seq((5200L, bFresh.head._2.map(v => v + 1e-4f))) // dominated by 5100
    val b = b0 ++ bFresh ++ bSelf
    val dir = graft.core.TempDirs.create("graft_semdedup_ingest")
    SemDedup.writeSemdedupIndex(spark, dir, a.toDF("vec_id", "embedding"), tau = Tau)
    val got = SemDedup.semdedupIndexIngest(spark, dir,
        b.toDF("vec_id", "embedding"), tau = Tau)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap

    // Full recompute over A ∪ B with the SAME persisted quantizer: the
    // batch rows' flags must be identical (the append==rebuild analogue).
    val cents = spark.read.parquet(new java.io.File(dir, "centroids").getPath)
      .orderBy("cell").collect()
      .map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
    val fullCells = Similarity.ivfBuildWith((a ++ b).toDF("vec_id", "embedding"), cents).cells
    val full = SemDedup.semdedupPruneCells(fullCells, Tau)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    fullCells.unpersist()
    val batchIds = b.map(_._1).toSet
    assert(got.keySet == batchIds)
    val diverged = batchIds.filter(id => got(id) != full(id))
    assert(diverged.isEmpty, s"ingest flags diverged from full recompute on $diverged")
    // Non-vacuity: planted A-copies removed, fresh uniques kept,
    // in-batch near-copy removed.
    assert((5000L until 5010L).forall(got(_)), s"planted copies not removed: $got")
    assert((5100L until 5110L).forall(id => !got(id)), s"fresh uniques removed: $got")
    assert(got(5200L), "in-batch near-copy must be dominated by its lower-id twin")

    // Committed batch is read by the NEXT ingest: a near-copy of the
    // FRESH batch-1 unique 5100 (which matches nothing in the seed) must
    // be dominated by it.
    val freshContent = bFresh.head._2
    val got2 = SemDedup.semdedupIndexIngest(spark, dir,
        Seq((6000L, freshContent.map(v => v + 1e-4f))).toDF("vec_id", "embedding"), tau = Tau)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got2(6000L), "second ingest must see the first batch's members")

    // Crash window: roll the manifest back so batch 2 ([6000]) is an
    // ORPHAN. Another 5100-copy is still dominated — by batch 1's 5100,
    // which is committed...
    graft.core.PersistedIndex.writeManifest(dir, graft.core.PersistedIndex.Manifest(Seq(0L, 1L)))
    val got3 = SemDedup.semdedupIndexIngest(spark, dir,
        Seq((7000L, freshContent.map(v => v + 2e-4f))).toDF("vec_id", "embedding"), tau = Tau)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got3(7000L))
    // ...and with batch 1 de-committed too (only the seed visible), the
    // next 5100-copy must SURVIVE: if orphaned batch dirs leaked into the
    // member read, 5100/6000/7000 would dominate it.
    graft.core.PersistedIndex.writeManifest(dir, graft.core.PersistedIndex.Manifest(Seq(0L)))
    val got4 = SemDedup.semdedupIndexIngest(spark, dir,
        Seq((8000L, freshContent.map(v => v + 3e-4f))).toDF("vec_id", "embedding"), tau = Tau)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!got4(8000L),
      "orphaned batches leaked into the member read (manifest gate broken)")
  }

  /** The `centroids/` table of `dir`, read straight from disk. */
  private def centroidsOnDisk(dir: String): Seq[Seq[Float]] =
    spark.read.parquet(new java.io.File(dir, "centroids").getPath)
      .orderBy("cell").collect()
      .map(r => r.getSeq[Float](r.fieldIndex("centroid"))).toSeq

  test("an ingest on a scratch copy reads the template's quantizer with no Spark job") {
    import spark.implicits._
    import graft.core.Warehouse
    import graft.ext.VectorIndex.SemdedupCentroids
    val template = graft.core.TempDirs.create("graft_semdedup_qstore")
    SemDedup.writeSemdedupIndex(spark, template, corpus.toDF("vec_id", "embedding"), tau = Tau)
    def jobs[T](body: => T): Int = org.apache.spark.JobCounter.count(spark.sparkContext)(body)._2
    def ingest(dir: String): Int = jobs(SemDedup.semdedupIndexIngest(spark, dir,
      Seq((5000L, corpus.head._2.map(_ + 1e-4f))).toDF("vec_id", "embedding"), tau = Tau))
    // A copy whose table files carry other names is a cache miss: its
    // ingest pays the quantizer read a copy of the template does not.
    def renamedCopy(): String = {
      val d = Warehouse.scratchFromSeed(template, "graft_semdedup_qstore_renamed")
      new java.io.File(d, "centroids").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.renameTo(new java.io.File(f.getParentFile, s"r${System.nanoTime}-${f.getName}"))))
      d
    }
    // Only reads fill the cache: the template's first read runs jobs, a
    // copy's read then hits its entry.
    assert(jobs(SemdedupCentroids.read(spark, template)) > 0)
    val copy = Warehouse.scratchFromSeed(template, "graft_semdedup_qstore_copy")
    assert(jobs(SemdedupCentroids.read(spark, copy)) == 0)
    assert(SemdedupCentroids.read(spark, copy).map(_.toSeq).toSeq == centroidsOnDisk(template))
    val readJobs = jobs(SemdedupCentroids.read(spark, renamedCopy()))
    assert(readJobs > 0)
    assert(ingest(renamedCopy()) - ingest(copy) == readJobs,
      "the ingest on a scratch copy ran Spark jobs to read centroids/")
  }

  test("a rebuilt scratch copy ingests against its fresh quantizer, not the template's") {
    import spark.implicits._
    import graft.ext.VectorIndex.SemdedupCentroids
    val template = graft.core.TempDirs.create("graft_semdedup_qstore_rebuild")
    SemDedup.writeSemdedupIndex(spark, template,
      corpus.filter(_._1 < 200).toDF("vec_id", "embedding"), tau = Tau)
    val old = SemdedupCentroids.read(spark, template).map(_.toSeq).toSeq
    val copy = graft.core.Warehouse.scratchFromSeed(template, "graft_semdedup_qstore_rebuilt")
    SemDedup.semdedupIndexIngest(spark, copy,
      corpus.filter(_._1 >= 200).toDF("vec_id", "embedding"), tau = Tau).count()
    SemDedup.semdedupIndexRebuild(spark, copy, Tau)
    val fresh = SemdedupCentroids.read(spark, copy)
    assert(fresh.map(_.toSeq).toSeq == centroidsOnDisk(copy))
    assert(fresh.map(_.toSeq).toSeq != old, "the rebuild kept the template's quantizer")
    assert(SemdedupCentroids.read(spark, template).map(_.toSeq).toSeq == old)
    // The ingest assigns every batch row to its nearest FRESH cell.
    val batch = (0 until 20).map(i => (9000L + i, corpus(i * 7)._2.map(_ * 1.01f)))
    val cells = SemDedup.semdedupIndexIngest(spark, copy, batch.toDF("vec_id", "embedding"), Tau)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, v) <- batch)
      assert(cells(id) == Similarity.nearestCell(fresh, v).toLong, s"vec $id")
  }

  test("semdedupIndexDelete: a taken-down member stops dominating; compaction materializes the drop") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val a = corpus
    val seedDir = graft.core.TempDirs.create("graft_semdedup_del_seed")
    SemDedup.writeSemdedupIndex(spark, seedDir, a.toDF("vec_id", "embedding"), tau = Tau)
    def copyOf(prefix: String): String = {
      val d = graft.core.TempDirs.create(prefix)
      PersistedIndexSpec.copyRecursively(new java.io.File(seedDir), new java.io.File(d))
      d
    }
    def ingest(dir: String, rows: Seq[(Long, Array[Float])]) =
      SemDedup.semdedupIndexIngest(spark, dir, rows.toDF("vec_id", "embedding"), tau = Tau)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val copy20 = Seq((5000L, a(20)._2.map(v => v + (rnd.nextDouble() * 2 - 1).toFloat * 1e-4f)))
    val copy21 = Seq((6000L, a(21)._2.map(v => v + (rnd.nextDouble() * 2 - 1).toFloat * 1e-4f)))
    // Control: with no delete, near-copies of members 20/21 are dominated.
    val ctrl = copyOf("graft_semdedup_del_ctrl")
    assert(ingest(ctrl, copy20)(5000L), "control: copy of member 20 must be suppressed")
    assert(ingest(ctrl, copy21)(6000L), "control: copy of member 21 must be suppressed")
    // Take down members 20 and 21: their copies must now SURVIVE — the
    // tombstoned members no longer dominate.
    val dir = copyOf("graft_semdedup_del_live")
    SemDedup.SemdedupStore.delete(dir, Seq(20L, 21L).toDF("vec_id"))
    assert(graft.core.PersistedIndex.readManifest(dir).tombstones.size == 1)
    assert(!ingest(dir, copy20)(5000L),
      "copy of the taken-down member 20 was still suppressed")
    // The ingest's publish must PRESERVE the tombstone ledger (no
    // resurrection via manifest rewrite).
    assert(graft.core.PersistedIndex.readManifest(dir).tombstones.size == 1,
      "ingest publish wiped the tombstone ledger")
    // Compaction: members physically dropped, ledger cleared, batches
    // merged — and a post-compaction ingest still sees the takedown.
    val memBefore = spark.read.parquet(s"$dir/members").count()
    SemDedup.SemdedupIndex.compact(spark, dir)
    assert(graft.core.PersistedIndex.readManifest(dir).batches.size == 1)
    assert(graft.core.PersistedIndex.readManifest(dir).tombstones.isEmpty, "ledger not cleared")
    val mem = spark.read.parquet(s"$dir/members")
    assert(mem.count() == memBefore - 2, "tombstoned members not dropped physically")
    assert(mem.filter(col("vec_id").isin(20L, 21L)).count() == 0)
    assert(!ingest(dir, copy21)(6000L),
      "post-compaction ingest was still dominated by a dropped member")
    // The earlier batch (5000, kept) is still a committed member after
    // compaction: a later near-copy of IT must be dominated.
    val copy5000 = Seq((7000L, copy20.head._2.map(v => v + 1e-4f)))
    assert(ingest(dir, copy5000)(7000L),
      "compaction lost a committed batch member")
  }

  test("semdedup streaming ingest: micro-batches commit with correct flags; a replayed ingestKey recomputes identical flags without publishing") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(71)
    val a = corpus
    val dir = graft.core.TempDirs.create("graft_semdedup_stream_spec")
    SemDedup.writeSemdedupIndex(spark, dir, a.toDF("vec_id", "embedding"), tau = Tau)
    // Two files + maxFilesPerTrigger=1 => two real micro-batches with
    // MONOTONE ids (the documented ingest invariant): batch 1 carries a
    // near-copy of member 30 (must be suppressed) and a fresh unique;
    // batch 2 carries a near-copy of batch 1's fresh unique (must be
    // suppressed BY A STREAMED member) and a fresh unique.
    val fresh1 = Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val fresh2 = Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val b1 = Seq((5000L, a(30)._2.map(v => v + 1e-4f)), (5001L, fresh1))
    val b2 = Seq((6000L, fresh1.map(v => v + 1e-4f)), (6001L, fresh2))
    val srcDir = graft.core.TempDirs.create("graft_semdedup_stream_src")
    b1.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(srcDir)
    b2.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          SemDedup.semdedupIndexIngest(spark, dir, b, tau = Tau,
            ingestKey = Some(s"stream-$batchId")).queryExecution.toRdd.count()
          ()
        }
      }
      .option("checkpointLocation", graft.core.TempDirs.create("graft_semdedup_stream_spec_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Flags read back from the index: the committed truth.
    def flags(): Map[Long, Boolean] = {
      val committed = graft.core.PersistedIndex.readManifest(dir).batches.filter(_ != 0L)
      spark.read.parquet(s"$dir/members")
        .where(col("batch_id").isin(committed: _*))
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("removed")).toMap
    }
    // File-source order follows the two appends; guard the assumption.
    assert(graft.core.PersistedIndex.readManifest(dir).ingestKeys.toSet == Set("stream-0", "stream-1"))
    val got = flags()
    assert(got(5000L), "streamed near-copy of a seed member not suppressed")
    assert(!got(5001L), "streamed fresh unique wrongly suppressed")
    assert(got(6000L), "batch-2 near-copy of a STREAMED batch-1 member not suppressed")
    assert(!got(6001L))
    // Replay of micro-batch 0: identical flags returned, nothing
    // re-published (no new batch dir, member count unchanged).
    val batchesBefore = graft.core.PersistedIndex.readManifest(dir).batches
    val membersBefore = spark.read.parquet(s"$dir/members").count()
    val replayed = SemDedup.semdedupIndexIngest(spark, dir,
        b1.toDF("vec_id", "embedding"), tau = Tau, ingestKey = Some("stream-0"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(replayed == Map(5000L -> true, 5001L -> false),
      s"replay flags diverged: $replayed")
    assert(graft.core.PersistedIndex.readManifest(dir).batches == batchesBefore,
      "replay published a duplicate batch")
    assert(spark.read.parquet(s"$dir/members").count() == membersBefore)
  }

  test("distributed prune matches the naive dominance rule on the same cells") {
    import spark.implicits._
    val cells = SemDedup.semdedupCells(corpus.toDF("vec_id", "embedding"),
      targetCell = 64).persist()
    try {
      val staged = SemDedup.semdedupPruneCells(cells, Tau)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap

      val assigned = cells.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      val naive = assigned.map { case (id, emb, cell) =>
        id -> assigned.exists { case (id2, emb2, cell2) =>
          cell2 == cell && id2 < id && cos(emb2, emb) >= Tau
        }
      }.toMap

      assert(staged == naive,
        s"staged!=naive on ${staged.keySet.filter(k => staged(k) != naive(k))}")
    } finally { cells.unpersist(); () }
  }

  test("planted near-duplicates are removed, originals kept") {
    import spark.implicits._
    val result = SemDedup
      .semdedupPrune(corpus.toDF("vec_id", "embedding"), Tau, targetCell = 64)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(result.size == NBase + NPlanted)
    // A planted copy can survive only if quantization split the pair
    // across cells — near-identical vectors almost always share a nearest
    // centroid, so demand >= 0.9 recall (the ANN specs' gate).
    val removedPlanted = (0 until NPlanted).count(i => result(1000L + i))
    assert(removedPlanted >= (NPlanted * 0.9).toInt,
      s"only $removedPlanted/$NPlanted planted copies removed")
    // Originals have the lowest ids of their pair and no earlier
    // near-duplicate: all must survive.
    (0 until NPlanted).foreach(i => assert(!result(i.toLong), s"original $i removed"))
  }

  test("hierarchical cell build preserves the prune contract (forced two-level path)") {
    // A 600-vector corpus at targetCell=2 pushes k past FlatCellLimit, so
    // this exercises the two-level build (coarse sqrt(k) quantizer + per-
    // coarse-cell fine Lloyd) that scale runs take. Contract: every
    // vector lands in exactly one cell and the distributed prune still
    // matches the naive dominance rule on those cells.
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val base = (0 until 600).map { i =>
      (i.toLong, Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val big = base ++ (0 until NPlanted).map { i =>
      (2000L + i, base(i)._2.map(v => v + (rnd.nextDouble() * 2 - 1).toFloat * 0.02f))
    }
    val cells = SemDedup.semdedupCells(big.toDF("vec_id", "embedding"),
      targetCell = 2).persist()
    try {
      val assigned = cells.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getLong(2)))
      assert(assigned.length == big.size)
      assert(assigned.map(_._1).distinct.length == assigned.length)

      val staged = SemDedup.semdedupPruneCells(cells, Tau)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      val naive = assigned.map { case (id, emb, cell) =>
        id -> assigned.exists { case (id2, emb2, cell2) =>
          cell2 == cell && id2 < id && cos(emb2, emb) >= Tau
        }
      }.toMap
      assert(staged == naive,
        s"staged!=naive on ${staged.keySet.filter(k => staged(k) != naive(k))}")
    } finally { cells.unpersist(); () }
  }

  test("join-path fine assignment is row-identical to the closure path (forced)") {
    // Past JoinAssignCellLimit cells the fine-centroid map outgrows any
    // closure/broadcast budget, and the two-level build must assign via
    // the co-partitioned ccell join instead (VERDICT r9 #2). Same corpus
    // shape as the forced two-level test; both paths must produce the
    // SAME (vec_id -> cell) assignment — same kernel per pair, ties to
    // the lowest fcell, a NaN cosine below every number — and the prune
    // contract must hold on the join path's cells.
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val base = (0 until 600).map { i =>
      (i.toLong, Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    // A zero-norm row: its cosine to every centroid is NaN, so it lands
    // in coarse cell 0, and its id is the lowest there, so it seeds fine
    // cell 0 with a zero centroid — which no other row may then pick.
    val zero = (-1L, new Array[Float](Dim))
    val big = base ++ (0 until NPlanted).map { i =>
      (2000L + i, base(i)._2.map(v => v + (rnd.nextDouble() * 2 - 1).toFloat * 0.02f))
    } :+ zero
    val df = big.toDF("vec_id", "embedding")
    val closure = SemDedup.semdedupCells(df, targetCell = 2).persist()
    val joined = SemDedup.semdedupCells(df, targetCell = 2,
      forceJoinAssign = true).persist()
    try {
      val cMap = closure.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val jMap = joined.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(cMap == jMap,
        s"join path diverged on ${cMap.keySet.filter(k => cMap(k) != jMap.getOrElse(k, -1L))}")
      // And the prune result over the join-path cells matches the naive
      // dominance rule (the same end-to-end contract the closure test pins).
      val assigned = joined.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getLong(2)))
      val staged = SemDedup.semdedupPruneCells(joined, Tau)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      val naive = assigned.map { case (id, emb, cell) =>
        id -> assigned.exists { case (id2, emb2, cell2) =>
          cell2 == cell && id2 < id && cos(emb2, emb) >= Tau
        }
      }.toMap
      assert(staged == naive,
        s"join-path staged!=naive on ${staged.keySet.filter(k => staged(k) != naive(k))}")
    } finally { closure.unpersist(); joined.unpersist(); () }
  }

  test("the discovery caches are marker-gated sibling seeds: a cache with no marker is rebuilt") {
    import spark.implicits._
    import graft.core.{TempDirs, Warehouse}
    // The seed holds the planted copies (suppressed), and the batch
    // carries fresh near-copies of base members (suppressed on ingest).
    val rnd = new scala.util.Random(41)
    val batch = (0 until 10).map { i =>
      (5000L + i, corpus(i)._2.map(v => v + (rnd.nextDouble() * 2 - 1).toFloat * 0.02f))
    }.toDF("vec_id", "embedding")
    val seed = new java.io.File(TempDirs.create("graft_semdedup_caches"), "seed")
    Warehouse.ensureSeed(seed) { d =>
      SemDedup.writeSemdedupIndex(spark, d, corpus.toDF("vec_id", "embedding"), tau = Tau)
    }
    val expected = SemDedup.semdedupIndexIngest(spark, seed.getPath, batch, tau = Tau,
        dryRun = true)
      .filter(col("removed")).select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty, "the planted copies must be suppressed somewhere")
    val cells = SemDedup.ensurePurgeCellsCache(spark, seed.getPath, batch)
    assert(cells.toSet == expected)
    val (victims, prevRemoved) = SemDedup.ensureRebuildCaches(spark, seed.getPath)
    def ids(path: String): Set[Long] = spark.read.parquet(path).collect().map(_.getLong(0)).toSet
    val (v0, r0) = (ids(victims), ids(prevRemoved))
    assert(r0.nonEmpty && v0.nonEmpty)
    // Nothing lands in the seed itself, so no scratch copy carries a cache.
    assert(seed.list().toSet == Set("members", "centroids", "manifest.json", "_SEEDED"),
      seed.list().toSeq)
    // Torn writes: the content is garbage or gone and no marker was
    // written. Both caches must be rebuilt, not read back.
    val purgeDir = new java.io.File(seed.getPath + "-purge-cells")
    new java.io.File(purgeDir, "_SEEDED").delete()
    java.nio.file.Files.write(new java.io.File(purgeDir, "cells").toPath, "7".getBytes)
    assert(SemDedup.ensurePurgeCellsCache(spark, seed.getPath, batch).toSet == expected)
    val rebuildDir = new java.io.File(seed.getPath + "-rebuild-caches")
    new java.io.File(rebuildDir, "_SEEDED").delete()
    Warehouse.deleteRecursively(new java.io.File(victims))
    val (victims2, prevRemoved2) = SemDedup.ensureRebuildCaches(spark, seed.getPath)
    assert(ids(victims2) == v0 && ids(prevRemoved2) == r0)
  }

  test("survivors are pairwise non-duplicate within every cell") {
    import spark.implicits._
    val cells = SemDedup.semdedupCells(corpus.toDF("vec_id", "embedding"),
      targetCell = 64).persist()
    try {
      val kept = SemDedup.semdedupPruneCells(cells, Tau)
        .filter(!col("removed")).collect().map(_.getLong(0)).toSet
      val assigned = cells.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
        .filter(t => kept.contains(t._1))
      for {
        (ida, emba, cella) <- assigned
        (idb, embb, cellb) <- assigned
        if cella == cellb && ida < idb
      } assert(cos(emba, embb) < Tau, s"surviving near-dup pair ($ida,$idb)")
    } finally { cells.unpersist(); () }
  }

  test("a zero-norm vector (undefined cosine) neither removes nor is removed, prune and ingest") {
    import spark.implicits._
    // One cell {1:(1,0), 2:(0,0), 3:(0,1)} (the first two of Dim
    // coordinates) at tau 0.4: 1 and 3 are orthogonal and 2's cosine
    // with either is NaN, which Spark ranks above every number, so a
    // bare `>= tau` would remove 2 and 3.
    def vec(xs: Float*): Array[Float] = xs.toArray ++ Array.fill(Dim - xs.size)(0f)
    val (v1, v2, v3) = ((1L, vec(1f, 0f)), (2L, vec(0f, 0f)), (3L, vec(0f, 1f)))
    val pruned = SemDedup.semdedupPruneCells(Seq(v1, v2, v3)
        .map { case (id, e) => (id, e, 0) }.toDF("vec_id", "embedding", "cell"), 0.4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(pruned == Map(1L -> false, 2L -> false, 3L -> false))
    // The ingest path: a one-vector seed trains the one centroid (1,0),
    // so the batch lands in the seed's cell.
    val dir = graft.core.TempDirs.create("graft_semdedup_zero_norm")
    SemDedup.writeSemdedupIndex(spark, dir, Seq(v1).toDF("vec_id", "embedding"), tau = 0.4)
    val ingested = SemDedup.semdedupIndexIngest(spark, dir,
        Seq(v2, v3).toDF("vec_id", "embedding"), tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(ingested.toSet == Set((2L, 0L, false), (3L, 0L, false)))
  }
}
