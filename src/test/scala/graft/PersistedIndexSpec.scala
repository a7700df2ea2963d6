package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{PersistedIndex, TempDirs, Warehouse}
import graft.ext.{NearDup, Similarity}

/** The shared index lifecycle, once per family: a rebuild that crashed
  * mid-swap must be repaired before the next rebuild reads anything, so
  * the surviving ids equal those of a twin index that never crashed.
  * Also pins the manifest's on-disk format.
  */
class PersistedIndexSpec extends AnyFunSuite with SparkTest {

  private def doc(i: Int): String =
    (0 until 60).map(j => s"w${(i * 31 + j * 7) % 97}").mkString(" ")

  private lazy val vecs: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(23)
    (0L until 96L).map(i => (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
  }

  /** One index family's mutators, driven over a fixed small corpus:
    * `seed` writes ids below 64, `append` adds the rest.
    */
  private case class Family(name: String, store: PersistedIndex,
      seed: String => Unit, append: String => Unit, delete: (String, Long) => Unit,
      compact: String => Unit, rebuild: String => Unit)

  private def families: Seq[Family] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 96L).map(i => (i, doc(i.toInt))).toDF("doc_id", "text")
    val emb = vecs.toDF("vec_id", "embedding")
    Seq(
      Family("minhash", NearDup.MinhashIndex.store,
        d => NearDup.MinhashIndex.write(d, docs.filter(col("doc_id") < 64)),
        d => NearDup.MinhashIndex.append(d, docs.filter(col("doc_id") >= 64)),
        (d, id) => NearDup.MinhashIndex.store.delete(d, Seq(id).toDF("doc_id")),
        d => NearDup.MinhashIndex.compact(spark, d),
        d => NearDup.MinhashIndex.rebuild(d, docs)),
      Family("phash", NearDup.PhashIndex.store,
        d => NearDup.PhashIndex.write(d, docs.filter(col("doc_id") < 64)),
        d => NearDup.PhashIndex.append(d, docs.filter(col("doc_id") >= 64)),
        (d, id) => NearDup.PhashIndex.store.delete(d, Seq(id).toDF("doc_id")),
        d => NearDup.PhashIndex.compact(spark, d),
        d => NearDup.PhashIndex.rebuild(d, docs)),
      Family("semdedup", Similarity.SemdedupStore,
        d => Similarity.writeSemdedupIndex(spark, d, emb.filter(col("vec_id") < 64), tau = 0.9),
        d => { Similarity.semdedupIndexIngest(spark, d, emb.filter(col("vec_id") >= 64),
          tau = 0.9).collect(); () },
        (d, id) => Similarity.SemdedupStore.delete(d, Seq(id).toDF("vec_id")),
        d => Similarity.semdedupIndexCompact(spark, d),
        d => Similarity.semdedupIndexRebuild(spark, d, tau = 0.9)),
      Family("IVF", Similarity.IvfStore,
        d => Similarity.writeIvfIndex(spark, d, emb.filter(col("vec_id") < 64)),
        d => Similarity.ivfIndexAppend(spark, d, emb.filter(col("vec_id") >= 64)),
        (d, id) => Similarity.IvfStore.delete(d, Seq(id).toDF("vec_id")),
        d => Similarity.ivfIndexCompact(spark, d),
        d => Similarity.ivfIndexRebuild(spark, d)))
  }

  /** The ids a probe can see: committed batches minus tombstones. */
  private def liveIds(f: Family, dir: String): Set[Long] =
    f.store.live(spark, dir, PersistedIndex.readManifest(dir))
      .select(f.store.idCol).distinct().collect().map(_.getLong(0)).toSet

  private def move(from: java.io.File, to: java.io.File): Unit = {
    java.nio.file.Files.move(from.toPath, to.toPath)
    ()
  }

  /** seed → append → delete id 5 → compact: the manifest lists one
    * batch k > 0, so a torn read of a batch-0 staged layout sees nothing.
    */
  private def postCompaction(f: Family, prefix: String): String = {
    val dir = TempDirs.create(prefix)
    f.seed(dir); f.append(dir); f.delete(dir, 5L); f.compact(dir)
    val m = PersistedIndex.readManifest(dir)
    assert(m.batches.size == 1 && m.batches.head > 0 && m.tombstones.isEmpty,
      s"${f.name}: not in the post-compaction state: $m")
    dir
  }

  for (name <- Seq("minhash", "phash", "semdedup", "IVF"))
    test(s"$name: a rebuild after a rebuild that crashed mid-swap loses no ids") {
      val f = families.find(_.name == name).get
      val twin = postCompaction(f, s"graft_pi_twin_$name")
      val dir = postCompaction(f, s"graft_pi_crash_$name")
      // The crashed rebuild's complete staged layout: the same rebuild,
      // built in a copy.
      val built = TempDirs.create(s"graft_pi_built_$name")
      Warehouse.copyRecursively(new java.io.File(dir), new java.io.File(built))
      f.rebuild(built)
      // The on-disk state of a crash mid-swap (as in StagedSwapSpec):
      // every live sub-dir moved aside, every staged one moved in, the
      // staged manifest not yet committed over the live one.
      val stage = new java.io.File(dir, ".rebuild.deadbeef")
      val aside = new java.io.File(dir, ".rebuild-old.deadbeef")
      aside.mkdirs()
      (f.store.subs :+ "manifest.json").foreach(s =>
        Warehouse.copyRecursively(new java.io.File(built, s), new java.io.File(stage, s)))
      f.store.subs.foreach { s =>
        move(new java.io.File(dir, s), new java.io.File(aside, s))
        move(new java.io.File(stage, s), new java.io.File(dir, s))
      }
      f.rebuild(dir)
      f.rebuild(twin)
      val expect = liveIds(f, twin)
      assert(expect.size == 95 && !expect.contains(5L), s"$name twin: $expect")
      assert(liveIds(f, dir) == expect, s"$name: ids lost across the crashed rebuild")
      assert(new java.io.File(dir).listFiles().forall(!_.getName.startsWith(".rebuild")),
        s"$name: swap debris left behind")
    }

  test("manifest format: a parent-written IVF record reads back, extra fields ride every commit") {
    val dir = TempDirs.create("graft_pi_manifest")
    // The byte layout IVF manifests were written in before the template.
    java.nio.file.Files.write(new java.io.File(dir, "manifest.json").toPath,
      ("""{"batches":[0,3],"imbalance":1.37,"rebuild_needed":false,""" +
        """"cell_counts":"0:56,1:36","ingest_keys":"stream-0,stream-1",""" +
        """"tombstone_batches":[2],"adc_err":0.3831,""" +
        """"adc_err_ladder":"0.0:0.3831,0.25:0.2831"}""").getBytes)
    val m = PersistedIndex.readManifest(dir)
    assert(m.batches == Seq(0L, 3L) && m.tombstones == Seq(2L))
    assert(m.ingestKeys == Seq("stream-0", "stream-1"))
    val ivf = Similarity.readIvfManifest(dir)
    assert(ivf == Similarity.IvfManifest(Seq(0L, 3L), 1.37, rebuildNeeded = false,
      Map(0 -> 56L, 1 -> 36L), Seq("stream-0", "stream-1"), Seq(2L), 0.3831,
      Seq((0.0, 0.3831), (0.25, 0.2831))))
    PersistedIndex.writeManifest(dir, m.copy(batches = m.batches :+ 4L))
    assert(Similarity.readIvfManifest(dir) == ivf.copy(batches = Seq(0L, 3L, 4L)))
    // Without extra fields the record is byte-identical to the minhash,
    // pHash and semdedup manifests written before the template.
    PersistedIndex.writeManifest(dir, PersistedIndex.Manifest(Seq(0L, 1L), Seq(2L), Seq("k1")))
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "manifest.json").toPath)) ==
      """{"batches":[0,1],"tombstone_batches":[2],"ingest_keys":"k1"}""")
  }
}
