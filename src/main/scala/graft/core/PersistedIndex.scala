package graft.core

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one lifecycle every persisted index family runs on — MinHash band
  * postings, pHash postings, semdedup members, IVF postings. A family
  * supplies only its kernels (how a batch, a compaction and a rebuild
  * are written); the commit protocol lives here, once:
  *
  *  - Layout: `manifest.json` (the commit record), `<data>/batch_id=N/`
  *    (committed — or orphaned — row batches), `tombstones/batch_id=N/`
  *    (id lists of DELETE batches), plus the family's `aux` dirs (the
  *    quantizer tables). `subs` is what a rebuild swaps.
  *  - Publish: a batch is written into a dot-directory (invisible to
  *    partition discovery), atomically renamed to `batch_id=N`, then
  *    committed by atomically replacing the manifest. Ids allocate past
  *    the max directory ON DISK, so an orphan of a crashed publish is
  *    never adopted; readers see only the manifest's batches.
  *  - Every mutator holds the directory's [[WriterLease]] and runs
  *    [[StagedSwap.recover]] BEFORE it reads anything: a rebuild that
  *    crashed mid-swap leaves the new sub-dirs live under the OLD
  *    manifest, and reading that torn mix would commit an index built
  *    from the wrong rows.
  *  - Compaction and rebuild materialize tombstones (the ledger clears);
  *    the ingest-key ledger survives both, so a pre-compaction replay of
  *    an at-least-once micro-batch stays a no-op.
  */
final case class PersistedIndex(name: String, data: String, idCol: String,
    aux: Seq[String] = Seq.empty) {
  import PersistedIndex._

  /** The dirs a complete layout comprises (manifest aside). */
  val subs: Seq[String] = data +: aux

  /** Recover, then drop every publish dot-dir and every `batch_id=N` dir
    * the manifest does not list: under the lease, a dot-dir can only be
    * a crashed writer's, and an unlisted batch dir a crashed publish's
    * rename or a committed compaction's uncollected input. Like
    * compaction's own GC, this gives a reader still on an older
    * manifest no grace. StagedSwap's `.rebuild*` and the lease's own
    * files are not publish dirs.
    */
  private def mutate[T](dir: String, op: String)(f: => T): T =
    WriterLease.withLease(dir, s"$name $op") {
      StagedSwap.recover(dir, subs)
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && PublishKinds.exists(k => d.getName.startsWith(s".${k}_batch_")))
        .foreach(Warehouse.deleteRecursively)
      val m = readManifest(dir)
      for ((root, live) <- Seq(data -> m.batches, "tombstones" -> m.tombstones);
           id <- batchIds(new java.io.File(dir, root)) if !live.contains(id))
        Warehouse.deleteRecursively(new java.io.File(new java.io.File(dir, root), s"batch_id=$id"))
      f
    }

  /** The ids of the `batch_id=N` dirs under `root`. */
  private def batchIds(root: java.io.File): Seq[Long] =
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName.stripPrefix("batch_id=").toLong)

  /** Stage `write(path)` as the next `batch_id=N` under `<dir>/<root>`;
    * returns N and what `write` returned. The caller commits.
    */
  private def publish[T](dir: String, root: String, kind: String)(
      write: String => T): (Long, T) = {
    val r = new java.io.File(dir, root)
    r.mkdirs()
    val id = (batchIds(r) :+ 0L).max + 1
    val staging = new java.io.File(dir, s".${kind}_batch_$id")
    val out = write(staging.getPath)
    java.nio.file.Files.move(staging.toPath,
      new java.io.File(r, s"batch_id=$id").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    (id, out)
  }

  /** Append one batch: `stage(path, m)` writes the batch's rows under
    * `path` and returns the manifest to commit given the current one `m`
    * (unchanged unless the family keeps its own fields). An `ingestKey`
    * already in the ledger is a committed replay: nothing is written.
    */
  def append(dir: String, ingestKey: Option[String] = None)(stage: Stage): Unit =
    appendWith(dir, ingestKey)(_.foreach(_(stage)))

  /** [[append]] for a family that computes under the lease whether or
    * not the batch publishes (semdedup's dominance flags are the answer
    * even on a replay): `body` gets `Some(publish)` — call it at most
    * once — or `None` when `ingestKey` is already committed.
    */
  def appendWith[T](dir: String, ingestKey: Option[String])(
      body: Option[Stage => Unit] => T): T =
    mutate(dir, "append") {
      val m = readManifest(dir)
      if (ingestKey.exists(m.ingestKeys.contains)) body(None)
      else body(Some { stage =>
        val (id, next) = publish(dir, data, "staging")(stage(_, m))
        writeManifest(dir, next.copy(batches = next.batches :+ id,
          ingestKeys = next.ingestKeys ++ ingestKey))
      })
    }

  /** Record a DELETE batch of ids (takedowns): O(delete batch), never a
    * data rewrite. Reads anti-join the ledger ([[live]]); the next
    * compaction or rebuild drops the rows physically.
    */
  def delete(dir: String, ids: DataFrame): Unit =
    mutate(dir, "delete") {
      val m = readManifest(dir)
      val (id, _) = publish(dir, "tombstones", "tombstone") { p =>
        ids.select(col(idCol)).distinct()
          .coalesce(1).write.mode("overwrite").parquet(p)
      }
      writeManifest(dir, m.copy(tombstones = m.tombstones :+ id))
    }

  /** Merge the committed batches into one, dropping tombstoned rows:
    * `stage(rows, path, m)` writes `rows` (batch_id dropped) under
    * `path` and returns the manifest to commit. The old dirs are GC'd
    * after the commit — only ids committed at start; a crashed
    * publish's orphan goes in the next mutation's sweep.
    * No-op on a single batch with no tombstones.
    */
  def compact(spark: SparkSession, dir: String)(
      stage: (DataFrame, String, Manifest) => Manifest): Unit =
    mutate(dir, "compact") {
      val m = readManifest(dir)
      if (m.batches.size > 1 || m.tombstones.nonEmpty) {
        val (id, next) = publish(dir, data, "compact") { p =>
          stage(live(spark, dir, m).drop("batch_id"), p, m)
        }
        writeManifest(dir, next.copy(batches = Seq(id), tombstones = Seq.empty))
        m.batches.foreach(id => Warehouse.deleteRecursively(
          new java.io.File(new java.io.File(dir, data), s"batch_id=$id")))
        m.tombstones.foreach(id => Warehouse.deleteRecursively(
          new java.io.File(new java.io.File(dir, "tombstones"), s"batch_id=$id")))
      }
    }

  /** Rebuild the whole layout from the surviving rows: `content` maps
    * them to the build input, which is snapshotted before anything is
    * replaced; `build(input, stageDir, ingestKeys)` writes a complete
    * fresh layout and manifest, swapped in by [[StagedSwap]]. The
    * ingest keys ride in that single manifest commit.
    */
  def rebuild(spark: SparkSession, dir: String)(content: DataFrame => DataFrame)(
      build: (DataFrame, String, Seq[String]) => Unit): Unit =
    mutate(dir, "rebuild") {
      val m = readManifest(dir)
      val input = content(live(spark, dir, m)).localCheckpoint(true)
      StagedSwap.swapInPlace(dir, subs)(stage => build(input, stage, m.ingestKeys))
      // The fresh manifest has an empty ledger: the id lists are orphans.
      Warehouse.deleteRecursively(new java.io.File(dir, "tombstones"))
    }

  /** The committed rows (`prune` joins the batch gate in one scan
    * filter) minus tombstoned ids — every probe's read.
    */
  def live(spark: SparkSession, dir: String, m: Manifest,
      prune: Option[Column] = None): DataFrame = {
    val gate = col("batch_id").isin(m.batches: _*)
    val rows = spark.read.parquet(new java.io.File(dir, data).getPath)
      .where(prune.fold(gate)(gate && _))
    if (m.tombstones.isEmpty) rows
    else rows.join(
      spark.read.parquet(new java.io.File(dir, "tombstones").getPath)
        .where(col("batch_id").isin(m.tombstones: _*)).select(col(idCol)),
      Seq(idCol), "left_anti")
  }
}

object PersistedIndex {

  /** The kinds of batch [[PersistedIndex.publish]] stages, each in a
    * `.<kind>_batch_N` dot-dir.
    */
  private val PublishKinds = Seq("staging", "tombstone", "compact")

  /** Writes a batch under a staging path; returns the manifest to commit. */
  type Stage = (String, Manifest) => Manifest

  /** The commit record. `extra` carries a family's own fields (IVF's
    * drift sentinel and ADC error) as raw JSON values, in order, through
    * every commit.
    */
  final case class Manifest(batches: Seq[Long], tombstones: Seq[Long] = Seq.empty,
      ingestKeys: Seq[String] = Seq.empty,
      extra: ListMap[String, String] = ListMap.empty)

  private val Core = Set("batches", "tombstone_batches", "ingest_keys")

  /** One flat JSON field: an id array, a quoted string, or a bare scalar. */
  private val Field = "\"([a-z_]+)\":(\\[[0-9,]*\\]|\"[^\"]*\"|[^,}]*)".r

  def readManifest(dir: String): Manifest = {
    val s = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "manifest.json").toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val fields = ListMap(Field.findAllMatchIn(s).map(f => f.group(1) -> f.group(2)).toSeq: _*)
    def list(k: String, open: String, close: String): Seq[String] =
      fields.get(k).map(_.stripPrefix(open).stripSuffix(close)).filter(_.nonEmpty)
        .map(_.split(',').toSeq).getOrElse(Seq.empty)
    Manifest(list("batches", "[", "]").map(_.toLong),
      list("tombstone_batches", "[", "]").map(_.toLong),
      list("ingest_keys", "\"", "\""),
      fields.filter { case (k, _) => !Core(k) })
  }

  /** Commit: write a tmp file, then rename(2) it over the live manifest —
    * atomic on one filesystem, so readers see the old record or the new.
    */
  def writeManifest(dir: String, m: Manifest): Unit = {
    val json = s"""{"batches":[${m.batches.mkString(",")}],""" +
      s""""tombstone_batches":[${m.tombstones.mkString(",")}],""" +
      s""""ingest_keys":"${m.ingestKeys.mkString(",")}"""" +
      m.extra.map { case (k, v) => s""","$k":$v""" }.mkString + "}"
    val tmp = new java.io.File(dir, ".manifest.tmp").toPath
    java.nio.file.Files.write(tmp, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, new java.io.File(dir, "manifest.json").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
