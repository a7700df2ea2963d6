package graft.core

/** Crash-safe in-place replacement of a persisted index layout — the
  * staged-rename + atomic-manifest protocol appends/deletes/compactions
  * already follow, extended to whole-layout rebuilds. Its one caller is
  * [[PersistedIndex.rebuild]], so every index family (MinHash, pHash,
  * semdedup, IVF) rebuilds through it.
  *
  * Rewriting the live layout dirs with `mode("overwrite")` BEFORE
  * committing the fresh manifest would let a crash mid-rebuild leave the
  * old manifest referencing destroyed batch dirs. Here instead
  * `build(stageDir)` writes a COMPLETE fresh layout
  * (every `subs` dir plus `manifest.json`) into a sibling dot-staging
  * directory while the live layout stays untouched; the swap then
  * renames each live sub-dir aside and the staged one in, and finally
  * commits by atomically renaming the staged manifest over the live one
  * — the single commit point. Nothing is deleted until after the commit.
  *
  * Crash windows (all lossless):
  *  - during build: live layout + manifest untouched; the orphan staging
  *    dir is GC'd by [[recover]] on the next mutation.
  *  - mid-swap: the live manifest still references the OLD layout and
  *    every displaced sub-dir sits intact in the aside dir; [[recover]]
  *    (run under the writer lease by every [[PersistedIndex]] mutator
  *    before it reads anything) moves them back. Until that runs,
  *    a reader may see a torn old/new dir mix — the window is a few
  *    renames wide, and single-writer local form accepts it; the 100 TB
  *    deployment shape is the same staging with a POINTER swap, where
  *    readers never see a mix.
  *  - post-commit, pre-GC: the new manifest is live and complete; the
  *    aside/staging dirs are garbage, detected by the staged manifest
  *    having been moved away, and GC'd by [[recover]].
  */
object StagedSwap {

  def swapInPlace(dir: String, subs: Seq[String])(build: String => Unit): Unit = {
    recover(dir, subs)
    val tag = java.util.UUID.randomUUID().toString
    val stage = new java.io.File(dir, s".rebuild.$tag")
    stage.mkdirs()
    build(stage.getPath)
    require(new java.io.File(stage, "manifest.json").isFile,
      s"staged rebuild at $stage produced no manifest")
    subs.foreach(s => require(new java.io.File(stage, s).exists(),
      s"staged rebuild at $stage missing layout dir $s"))
    // The aside dir is created only once the staged layout is verified
    // complete — its presence marks "swap started", which recovery uses
    // to distinguish a crashed build (GC stage) from a crashed swap
    // (restore aside).
    val aside = new java.io.File(dir, s".rebuild-old.$tag")
    aside.mkdirs()
    subs.foreach { s =>
      val live = new java.io.File(dir, s)
      if (live.exists())
        java.nio.file.Files.move(live.toPath, new java.io.File(aside, s).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.move(new java.io.File(stage, s).toPath, live.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // Commit point: rename(2) is atomic on one filesystem — readers see
    // the old manifest or the new one, never a torn write.
    java.nio.file.Files.move(new java.io.File(stage, "manifest.json").toPath,
      new java.io.File(dir, "manifest.json").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Warehouse.deleteRecursively(aside)
    Warehouse.deleteRecursively(stage)
  }

  /** Repair any crashed rebuild's debris. Pre-commit (the staged
    * manifest still exists): the old layout is authoritative — every
    * displaced sub-dir moves back and the staged layout is dropped.
    * Post-commit (the staged manifest was renamed away): the new layout
    * is live — the aside and staging dirs are garbage. Callers hold the
    * index's writer lease.
    */
  def recover(dir: String, subs: Seq[String]): Unit = {
    val d = new java.io.File(dir)
    val children = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
    children.filter(f => f.isDirectory && f.getName.startsWith(".rebuild-old.")).foreach { aside =>
      val tag = aside.getName.stripPrefix(".rebuild-old.")
      val stage = new java.io.File(dir, s".rebuild.$tag")
      if (new java.io.File(stage, "manifest.json").isFile) {
        subs.foreach { s =>
          val old = new java.io.File(aside, s)
          if (old.exists()) {
            Warehouse.deleteRecursively(new java.io.File(d, s))
            java.nio.file.Files.move(old.toPath, new java.io.File(d, s).toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
        }
      }
      Warehouse.deleteRecursively(aside)
      Warehouse.deleteRecursively(stage)
    }
    // Orphan stages with no aside twin: the build crashed before any
    // swap began — the live layout never changed; drop the debris.
    children.filter(f => f.isDirectory && f.getName.startsWith(".rebuild."))
      .foreach(Warehouse.deleteRecursively)
  }
}
