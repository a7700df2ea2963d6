package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{IndexFamily, PersistedIndex, TempDirs, Warehouse}
import graft.ext.{Ivf, NearDup, SemDedup}

/** The shared index lifecycle, once per family value: a mutation that
  * crashed at any commit point — an append, delete or compaction, or a
  * rebuild mid-swap — must leave an index the next mutators repair or
  * ignore, so the surviving ids equal those of a twin index that never
  * crashed. Also pins the manifest's on-disk format.
  */
class PersistedIndexSpec extends AnyFunSuite with SparkTest {
  import PersistedIndexSpec._

  private def doc(i: Int): String =
    (0 until 60).map(j => s"w${(i * 31 + j * 7) % 97}").mkString(" ")

  private lazy val vecs: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(23)
    (0L until 96L).map(i => (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
  }

  private val families: Seq[IndexFamily] = Seq(NearDup.MinhashIndex, NearDup.PhashIndex,
    SemDedup.SemdedupIndex, Ivf.IvfIndex)

  private def family(name: String): IndexFamily = families.find(_.store.name == name).get

  /** A fixed small corpus of the family's table, ids 0 until 96. */
  private def corpus(f: IndexFamily): DataFrame = {
    import spark.implicits._
    if (f.table == "documents") (0L until 96L).map(i => (i, doc(i.toInt))).toDF("doc_id", "text")
    else vecs.toDF("vec_id", "embedding")
  }

  private def rows(f: IndexFamily, from: Long, until: Long): DataFrame =
    corpus(f).filter(col(f.store.idCol) >= from && col(f.store.idCol) < until)

  private def delete(f: IndexFamily, dir: String, id: Long): Unit = {
    import spark.implicits._
    f.store.delete(dir, Seq(id).toDF(f.store.idCol))
  }

  /** The ids a probe can see: committed batches minus tombstones. */
  private def liveIds(f: IndexFamily, dir: String): Set[Long] =
    f.store.live(spark, dir, PersistedIndex.readManifest(dir))
      .select(f.store.idCol).distinct().collect().map(_.getLong(0)).toSet

  private def move(from: java.io.File, to: java.io.File): Unit = {
    java.nio.file.Files.move(from.toPath, to.toPath)
    ()
  }

  private def copy(from: String, prefix: String): String = {
    val dir = TempDirs.create(prefix)
    copyRecursively(new java.io.File(from), new java.io.File(dir))
    dir
  }

  /** seed → append → delete id 5 → compact: the manifest lists one
    * batch k > 0, so a torn read of a batch-0 staged layout sees nothing.
    */
  private def postCompaction(f: IndexFamily, prefix: String): String = {
    val dir = TempDirs.create(prefix)
    f.write(dir, rows(f, 0, 64)); f.append(spark, dir, rows(f, 64, 96))
    delete(f, dir, 5L); f.compact(spark, dir)
    val m = PersistedIndex.readManifest(dir)
    assert(m.batches.size == 1 && m.batches.head > 0 && m.tombstones.isEmpty,
      s"${f.store.name}: not in the post-compaction state: $m")
    dir
  }

  for (name <- Seq("minhash", "phash", "semdedup", "IVF"))
    test(s"$name: a rebuild after a rebuild that crashed mid-swap loses no ids") {
      val f = family(name)
      val twin = postCompaction(f, s"graft_pi_twin_$name")
      val dir = postCompaction(f, s"graft_pi_crash_$name")
      // The crashed rebuild's complete staged layout: the same rebuild,
      // built in a copy.
      val built = copy(dir, s"graft_pi_built_$name")
      f.rebuild(built, corpus(f))
      // The on-disk state of a crash mid-swap (as in StagedSwapSpec):
      // every live sub-dir moved aside, every staged one moved in, the
      // staged manifest not yet committed over the live one.
      val stage = new java.io.File(dir, ".rebuild.deadbeef")
      val aside = new java.io.File(dir, ".rebuild-old.deadbeef")
      aside.mkdirs()
      (f.store.subs :+ "manifest.json").foreach(s =>
        copyRecursively(new java.io.File(built, s), new java.io.File(stage, s)))
      f.store.subs.foreach { s =>
        move(new java.io.File(dir, s), new java.io.File(aside, s))
        move(new java.io.File(stage, s), new java.io.File(dir, s))
      }
      f.rebuild(dir, corpus(f))
      f.rebuild(twin, corpus(f))
      val expect = liveIds(f, twin)
      assert(expect.size == 95 && !expect.contains(5L), s"$name twin: $expect")
      assert(liveIds(f, dir) == expect, s"$name: ids lost across the crashed rebuild")
      assert(new java.io.File(dir).listFiles().forall(!_.getName.startsWith(".rebuild")),
        s"$name: swap debris left behind")
    }

  // ---- crash injection at the commit points of append, delete, compact ----
  //
  // Every mutator publishes one batch dir: written into a dot-dir,
  // renamed to `batch_id=N`, then committed by the manifest swap. The
  // crash states are built by hand from a twin that ran the same
  // mutation to completion.

  /** Seed (ids < 48), append [48, 64), delete id 5: two committed
    * batches and one tombstone batch, so a compaction has work.
    */
  private def preState(f: IndexFamily, prefix: String): String = {
    val dir = TempDirs.create(prefix)
    f.write(dir, rows(f, 0, 48)); f.append(spark, dir, rows(f, 48, 64)); delete(f, dir, 5L)
    dir
  }

  /** The mutation that crashes, by name, and the dot-dir its publish
    * stages in.
    */
  private def crashing(f: IndexFamily, op: String): (String => Unit, String) = op match {
    case "append" => (d => f.append(spark, d, rows(f, 64, 80)), "staging")
    case "delete" => (d => delete(f, d, 7L), "tombstone")
    case "compact" => (d => f.compact(spark, d), "compact")
  }

  /** What runs after the crash, in order, on the crashed index and on the
    * twin that never crashed.
    */
  private def next(f: IndexFamily): Seq[(String, String => Unit)] = Seq(
    "append" -> (d => f.append(spark, d, rows(f, 80, 96))),
    "delete" -> (d => delete(f, d, 9L)),
    "compact" -> (d => f.compact(spark, d)),
    "rebuild" -> (d => f.rebuild(d, corpus(f))))

  /** The twin's live ids after each [[next]] step, per family. */
  private val twinIds = scala.collection.mutable.Map.empty[String, Seq[Set[Long]]]

  private def batchDirs(root: java.io.File): Set[String] =
    Option(root.list()).toSeq.flatten.filter(_.startsWith("batch_id=")).toSet

  for (f <- families; op <- Seq("append", "delete", "compact")) {
    val name = f.store.name
    val states = Seq("staged", "renamed") ++ (if (op == "compact") Seq("uncollected") else Nil)
    test(s"$name: the next append, delete, compact and rebuild recover from a crashed $op " +
        s"(${states.mkString(", ")})") {
      val expect = twinIds.getOrElseUpdate(name, {
        val twin = preState(f, s"graft_pi_twin_$name")
        next(f).map { case (_, step) => step(twin); liveIds(f, twin) }
      })
      assert(expect.last.size == 78 && !Seq(5L, 9L).exists(expect.last.contains),
        s"$name twin: ${expect.last}")
      val pre = preState(f, s"graft_pi_pre_$name")
      // The batch dir the mutation publishes, from a copy that completed it.
      val (mutate, staging) = crashing(f, op)
      val built = copy(pre, s"graft_pi_built_$name")
      mutate(built)
      val root = if (op == "delete") "tombstones" else f.store.data
      val Seq(batch) = (batchDirs(new java.io.File(built, root)) --
        batchDirs(new java.io.File(pre, root))).toSeq
      val published = new java.io.File(new java.io.File(built, root), batch)
      for (state <- states) {
        val dir = copy(pre, s"graft_pi_crash_$name")
        state match {
          case "staged" => copyRecursively(published,
            new java.io.File(dir, s".${staging}_batch_${batch.stripPrefix("batch_id=")}"))
          case "renamed" => copyRecursively(published,
            new java.io.File(new java.io.File(dir, root), batch))
          case "uncollected" =>
            // Committed: the merged batch and its manifest are in, but
            // the merged-away batch and tombstone dirs were not yet GC'd.
            copyRecursively(published, new java.io.File(new java.io.File(dir, root), batch))
            java.nio.file.Files.copy(new java.io.File(built, "manifest.json").toPath,
              new java.io.File(dir, "manifest.json").toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        next(f).zip(expect).foreach { case ((step, run), ids) =>
          run(dir)
          assert(liveIds(f, dir) == ids,
            s"$name, $op crashed $state: live ids after the next $step differ from the twin's")
          // No orphan outlives the next mutation: the batch dirs on disk
          // are exactly the manifest's.
          val m = PersistedIndex.readManifest(dir)
          for ((root, listed) <- Seq(f.store.data -> m.batches, "tombstones" -> m.tombstones))
            assert(batchDirs(new java.io.File(dir, root)) == listed.map(id => s"batch_id=$id").toSet,
              s"$name, $op crashed $state: $root dirs on disk after the next $step differ from the manifest's $listed")
          if (state == "staged" && step == "append") {
            val debris = new java.io.File(dir).list().filter(_.matches("\\.(staging|tombstone|compact)_batch_.*"))
            assert(debris.isEmpty, s"$name, $op crashed staged: ${debris.mkString(", ")} left after the next append")
          }
        }
      }
    }
  }

  for (name <- Seq("minhash", "phash", "semdedup", "IVF"))
    test(s"$name: a bake on a linked template clone leaves its base template's files unchanged") {
      val f = family(name)
      val root = TempDirs.create(s"graft_pi_bake_$name")
      val base = Warehouse.ensureSeed(new java.io.File(root, "seed"))(f.write(_, rows(f, 0, 48)))
      val before = contents(new java.io.File(base))
      val baked = Warehouse.ensureDerivedSeed(base, "baked") { d =>
        f.append(spark, d, rows(f, 48, 64)); delete(f, d, 5L)
        f.compact(spark, d); f.rebuild(d, corpus(f))
      }
      assert(contents(new java.io.File(base)) == before,
        s"$name: the bake changed a name, size or byte of its base template")
      assert(liveIds(f, baked) == (0L until 64L).toSet - 5L, s"$name: the bake lost ids")
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
    val ivf = Ivf.readIvfManifest(dir)
    assert(ivf == Ivf.IvfManifest(Seq(0L, 3L), 1.37, rebuildNeeded = false,
      Map(0 -> 56L, 1 -> 36L), Seq("stream-0", "stream-1"), Seq(2L), 0.3831,
      Seq((0.0, 0.3831), (0.25, 0.2831))))
    PersistedIndex.writeManifest(dir, m.copy(batches = m.batches :+ 4L))
    assert(Ivf.readIvfManifest(dir) == ivf.copy(batches = Seq(0L, 3L, 4L)))
    // Without extra fields the record is byte-identical to the minhash,
    // pHash and semdedup manifests written before the template.
    PersistedIndex.writeManifest(dir, PersistedIndex.Manifest(Seq(0L, 1L), Seq(2L), Seq("k1")))
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "manifest.json").toPath)) ==
      """{"batches":[0,1],"tombstone_batches":[2],"ingest_keys":"k1"}""")
  }
}

object PersistedIndexSpec {

  /** Recursive byte copy: a copy that shares no file with `src`. */
  def copyRecursively(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).toSeq.flatten
        .foreach(c => copyRecursively(c, new java.io.File(dst, c.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  /** Every path under `dir`, relative, with its size and SHA-256 (a dir: -1, ""). */
  def contents(dir: java.io.File): Map[String, (Long, String)] = {
    def walk(f: java.io.File, rel: String): Seq[(String, (Long, String))] =
      if (f.isDirectory)
        (rel -> (-1L, "")) +: Option(f.listFiles()).toSeq.flatten
          .flatMap(c => walk(c, s"$rel/${c.getName}"))
      else {
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(java.nio.file.Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
        Seq(rel -> (f.length(), sha))
      }
    walk(dir, ".").toMap
  }
}
