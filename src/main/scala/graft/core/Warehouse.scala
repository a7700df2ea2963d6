package graft.core

import org.apache.spark.sql.SparkSession

/** Warehouse-table hygiene for managed-table queries (bucketed layouts,
  * snapshot overwrites): the warehouse directory outlives the in-memory
  * catalog across JVM runs, and a stale location with no catalog entry
  * fails table creation — drop both the entry and the directory before
  * (re)creating.
  */
object Warehouse {

  def reset(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    clearLocation(spark, table)
  }

  /** Remove a stale on-disk location that has no catalog entry. */
  def clearLocation(spark: SparkSession, table: String): Unit = {
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    deleteRecursively(new java.io.File(
      if (wh.getScheme == null) wh.toString else wh.getPath, table))
  }

  /** [[cloneTemplate]] into a fresh scratch dir for one run's mutations,
    * with no Spark job; [[IndexLifecycle.Scenario]] makes one per call.
    */
  def scratchFromSeed(seedDir: String, prefix: String): String = {
    val dir = TempDirs.create(prefix)
    cloneTemplate(seedDir, dir)
    dir
  }

  /** Clone the template `src` into `dst` and drop the `_SEEDED` marker,
    * so the clone is never mistaken for a template: the one clone of
    * both scratch copies and derived templates.
    *
    * HARDLINKS, not byte copies (r13 bench reclaim): every index
    * mutation (core.PersistedIndex) writes NEW files — appends and
    * deletes stage fresh directories and atomically rename them,
    * compaction and StagedSwap rebuilds unlink old directories (safe:
    * the template keeps its own link), and manifest commits replace the
    * directory entry via tmp + ATOMIC_MOVE without touching the linked
    * inode.
    * Nothing ever modifies a parquet or manifest file in place, so the
    * template cannot be corrupted through a link. Falls back to a byte
    * copy per file if the filesystem refuses links.
    */
  private def cloneTemplate(src: String, dst: String): Unit = {
    linkRecursively(new java.io.File(src), new java.io.File(dst))
    new java.io.File(dst, "_SEEDED").delete()
    ()
  }

  /** Recursive hardlink tree (copy fallback per file). */
  private def linkRecursively(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      val children = src.listFiles()
      if (children != null)
        children.foreach(c => linkRecursively(c, new java.io.File(dst, c.getName)))
    } else {
      try {
        java.nio.file.Files.createLink(dst.toPath, src.toPath)
        ()
      } catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(src.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
      }
    }
  }

  /** Marker-gated DERIVED seed: the base template `baseSeedDir`, cloned
    * ([[cloneTemplate]]) into the sibling `<base>-<suffix>` and mutated
    * ONCE by `build` — the untimed seed economics of the base. Its one
    * caller is [[IndexLifecycle.Scenario]], whose baked steps (e.g.
    * "append then COMPACT") land here, so a timed call runs its operator,
    * not the setup. The base's fixture tag invalidates it with the base.
    */
  def ensureDerivedSeed(baseSeedDir: String, suffix: String)(build: String => Unit): String =
    ensureSeed(new java.io.File(baseSeedDir + "-" + suffix)) { dir =>
      cloneTemplate(baseSeedDir, dir)
      build(dir)
    }

  /** How often [[ensureSeed]] found one seed dir marked (a hit) or
    * built it (a miss).
    */
  final case class SeedCount(hits: Long, misses: Long)

  private val seedCountsByDir =
    new java.util.concurrent.ConcurrentHashMap[String, SeedCount]()

  /** Every dir [[ensureSeed]] was called on in this JVM, with its counts. */
  def seedCounts: Map[String, SeedCount] = {
    import scala.jdk.CollectionConverters._
    seedCountsByDir.asScala.toMap
  }

  /** The marker-gated seed body every one-time seed shares: unless
    * `dir/_SEEDED` exists, clear `dir`, recreate it, run `build(dir)`,
    * and only then write the marker — so a crashed partial build is
    * redone on the next call. Returns `dir`'s path. The caller's `dir`
    * carries the fixture tag, so a regenerated fixture seeds afresh.
    * Each call counts a hit or a miss for `dir` ([[seedCounts]]).
    */
  def ensureSeed(dir: java.io.File)(build: String => Unit): String = {
    val marker = new java.io.File(dir, "_SEEDED")
    val hit = marker.exists()
    seedCountsByDir.merge(dir.getPath, if (hit) SeedCount(1, 0) else SeedCount(0, 1),
      (a, b) => SeedCount(a.hits + b.hits, a.misses + b.misses))
    if (!hit) {
      deleteRecursively(dir)
      dir.mkdirs()
      build(dir.getPath)
      java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    }
    dir.getPath
  }

  /** Shared recursive delete. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete()
    ()
  }
}
