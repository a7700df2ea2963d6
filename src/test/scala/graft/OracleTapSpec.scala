package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.OracleTap

/** Tap dirs are per JVM (`OracleTap.Root` is `<Base>/<pid>`), and a JVM's
  * first tap write sweeps only siblings whose JVM is dead and whose
  * newest file is over a day old, so a finished Verify's taps survive
  * until the oracle compare reads them.
  */
class OracleTapSpec extends AnyFunSuite {

  private val Day = 24L * 60 * 60 * 1000

  test("a JVM's taps live under its own pid") {
    assert(OracleTap.Root == s"${OracleTap.Base}/${ProcessHandle.current().pid()}")
  }

  test("the sweep deletes a dead JVM's old taps and keeps young or live ones") {
    val base = java.nio.file.Files.createTempDirectory("graft_tap_sweep").toFile
    val now = System.currentTimeMillis()
    /** A tap under `<base>/<pid>` whose file and dirs were last modified
      * `dirAge` ago, except the file, `fileAge` ago.
      */
    def taps(pid: Long, dirAge: Long, fileAge: Long): java.io.File = {
      val tap = new java.io.File(base, s"$pid/some_tap")
      tap.mkdirs()
      val part = new java.io.File(tap, "part-00000.parquet")
      java.nio.file.Files.write(part.toPath, Array[Byte](1))
      part.setLastModified(now - fileAge)
      Seq(tap, tap.getParentFile).foreach(_.setLastModified(now - dirAge))
      tap.getParentFile
    }
    // Above any Linux pid_max (2^22), so no process has these pids.
    val dead = Int.MaxValue.toLong
    val old = taps(dead, 2 * Day, 2 * Day)
    val young = taps(dead - 1, Day / 24, Day / 24)
    val youngFile = taps(dead - 2, 2 * Day, Day / 24)
    val live = taps(ProcessHandle.current().pid(), 2 * Day, 2 * Day)
    val notAPid = new java.io.File(base, "minhash_cands")
    notAPid.mkdirs()
    notAPid.setLastModified(now - 2 * Day)
    OracleTap.sweep(base, now)
    assert(!old.exists(), "a dead JVM's day-old taps were kept")
    assert(young.exists(), "a dead JVM's young taps were swept before the oracle read them")
    assert(youngFile.exists(), "a dir with a young file was swept")
    assert(live.exists(), "a live JVM's taps were swept")
    assert(notAPid.exists(), "a dir not named by a pid was swept")
    graft.core.Warehouse.deleteRecursively(base)
  }
}
