package graft.core

/** JVM-lifetime temp directories for queries that materialize write-side
  * artifacts (format round-trips, partitioned layouts, checkpoints): the
  * read-back DataFrame must stay valid for the session's lifetime, so the
  * dirs can't be deleted eagerly — instead one shutdown hook removes them
  * all, so repeated smoke/bench runs don't accumulate table copies under
  * /tmp. (`File.deleteOnExit` alone can't do this: it only removes empty
  * directories.)
  */
object TempDirs {

  private val dirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(p => Warehouse.deleteRecursively(p.toFile))))
    ()
  }

  /** Optional scratch root (`-Dgraft.tmp.root=...`): the measurement
    * harnesses (Bench/Profile) point it at the RAM-backed
    * local dir (/dev/shm) so per-run scratch copies, checkpoints, and
    * state stores ride the local-disk class a production executor node
    * has, instead of this host's shared noisy-neighbor /tmp device —
    * disclosed in SURVEY. Default: java.io.tmpdir, unchanged for
    * Verify and the test suites.
    */
  private def root: Option[java.nio.file.Path] =
    sys.props.get("graft.tmp.root").map { r =>
      val p = java.nio.file.Paths.get(r)
      java.nio.file.Files.createDirectories(p)
      p
    }

  /** Enable the RAM-backed measurement scratch if this host has one;
    * returns the root for `spark.local.dir` wiring, or None (leaving
    * every default untouched) where /dev/shm is absent or unwritable.
    */
  def enableMeasurementScratch(): Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val r = "/dev/shm/graft_bench"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(r))
      // A crashed run's scratch would pin RAM until reboot (the exit
      // hook never fired); sweep entries idle for >2 h.
      sweepIdle(new java.io.File(r), System.currentTimeMillis() - 2L * 3600 * 1000)(_ => true)
      System.setProperty("graft.tmp.root", r)
      Some(r)
    } else None
  }

  /** Delete each entry of `base` that `sweepable` admits and that is idle
    * since before `cutoff`. Idle = the NEWEST mtime anywhere in the
    * entry's tree — a directory's own mtime freezes once writes move into
    * nested subdirs (POSIX), so the top-level timestamp alone would
    * misread a live long run as idle and delete its files mid-sweep.
    */
  private[graft] def sweepIdle(base: java.io.File, cutoff: Long)(
      sweepable: java.io.File => Boolean): Unit = {
    def newestMtime(f: java.io.File): Long =
      (f.lastModified() +: Option(f.listFiles()).toSeq.flatten.map(newestMtime)).max
    Option(base.listFiles()).toSeq.flatten
      .filter(f => sweepable(f) && newestMtime(f) < cutoff)
      .foreach(Warehouse.deleteRecursively)
  }

  /** Create a temp directory registered for recursive delete on JVM exit. */
  def create(prefix: String): String = {
    hookInstalled
    val d = root match {
      case Some(r) => java.nio.file.Files.createTempDirectory(r, prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }
    dirs.add(d)
    d.toString
  }
}
