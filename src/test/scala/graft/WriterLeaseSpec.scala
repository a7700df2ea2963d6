package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Ivf, NearDup, SemDedup}

/** Single-writer enforcement on the persisted index layouts: a live
  * concurrent writer fails fast, a crashed writer's stale lock is
  * reclaimed, and every mutation releases its lease on exit.
  */
class WriterLeaseSpec extends AnyFunSuite with SparkTest {

  private def doc(i: Int): String =
    (0 until 60).map(j => s"w${(i * 31 + j * 7) % 97}").mkString(" ")

  private def lockOf(dir: String) = new java.io.File(dir, ".writer.lock")

  test("a live concurrent writer fails fast; the lease releases after every mutation") {
    import spark.implicits._
    val docs = (0L until 8L).map(i => (i, doc(i.toInt))).toDF("doc_id", "text")
    val dir = graft.core.TempDirs.create("graft_lease_minhash")
    NearDup.MinhashIndex.write(dir, docs)
    // Another writer holds the lease (fresh lock): every mutation must
    // refuse rather than allocate a colliding batch id or GC its work.
    java.nio.file.Files.write(lockOf(dir).toPath, "other 0".getBytes)
    val batch = Seq((100L, doc(100))).toDF("doc_id", "text")
    val eApp = intercept[IllegalStateException] {
      NearDup.MinhashIndex.append(spark, dir, batch)
    }
    assert(eApp.getMessage.contains("single-writer"))
    intercept[IllegalStateException] {
      NearDup.MinhashIndex.store.delete(dir, Seq(0L).toDF("doc_id"))
    }
    intercept[IllegalStateException] { NearDup.MinhashIndex.compact(spark, dir) }
    java.nio.file.Files.delete(lockOf(dir).toPath)
    // With the lease free, the append proceeds — and releases.
    NearDup.MinhashIndex.append(spark, dir, batch)
    assert(!lockOf(dir).exists(), "lease not released after append")
    assert(graft.core.PersistedIndex.readManifest(dir).batches.size == 2)
  }

  test("a stale lock left by a crashed writer is reclaimed") {
    import spark.implicits._
    val docs = (0L until 8L).map(i => (i, doc(i.toInt))).toDF("doc_id", "text")
    val dir = graft.core.TempDirs.create("graft_lease_stale")
    NearDup.MinhashIndex.write(dir, docs)
    val lock = lockOf(dir)
    java.nio.file.Files.write(lock.toPath, "crashed 0".getBytes)
    assert(lock.setLastModified(System.currentTimeMillis() - 11L * 60 * 1000))
    // Past the staleness bar the next writer takes over instead of
    // wedging forever.
    NearDup.MinhashIndex.append(spark, dir, Seq((100L, doc(100))).toDF("doc_id", "text"))
    assert(!lock.exists())
    assert(graft.core.PersistedIndex.readManifest(dir).batches.size == 2)
  }

  test("release refuses to delete a lock it no longer owns (reclaimed mid-mutation)") {
    val dir = graft.core.TempDirs.create("graft_lease_own")
    val lock = lockOf(dir)
    graft.core.WriterLease.withLease(dir, "test") {
      // Simulate a reclaim while this writer overran its lease: the lock
      // now carries ANOTHER writer's token.
      java.nio.file.Files.write(lock.toPath, "reclaimer token".getBytes)
    }
    assert(lock.exists(),
      "an overrunning writer's release deleted the reclaiming writer's lock")
    java.nio.file.Files.delete(lock.toPath)
    // Normal case: an untouched lease releases cleanly.
    graft.core.WriterLease.withLease(dir, "test") { () }
    assert(!lock.exists())
  }

  test("an mtime-stale lock whose holder pid is still ALIVE is never reclaimed") {
    val dir = graft.core.TempDirs.create("graft_lease_alivepid")
    val lock = lockOf(dir)
    // A lock naming THIS live process (with ITS start time), aged past
    // the staleness bar: reclaim must refuse (the writer may be
    // mid-mutation with a starved heartbeat) — stealing it would run
    // two writers concurrently.
    val self = ProcessHandle.current()
    val selfStart = self.info().startInstant().map[Long](_.toEpochMilli).orElse(-1L)
    java.nio.file.Files.write(lock.toPath,
      s"${self.pid()} $selfStart ${System.currentTimeMillis()} overrunning".getBytes)
    assert(lock.setLastModified(System.currentTimeMillis() - 11L * 60 * 1000))
    val e = intercept[IllegalStateException] {
      graft.core.WriterLease.withLease(dir, "test") { () }
    }
    assert(e.getMessage.contains("single-writer"))
    assert(lock.exists())
    java.nio.file.Files.delete(lock.toPath)
  }

  test("a stale lock whose pid was RECYCLED by another process is reclaimed") {
    val dir = graft.core.TempDirs.create("graft_lease_recycled")
    val lock = lockOf(dir)
    // Same pid as a LIVE process (ours), but a start time that cannot be
    // that process's: the crashed writer's pid was recycled. Liveness of
    // the pid alone must not wedge the index — the start-time mismatch
    // proves the holder is gone and the stale lock reclaims. The token
    // must be the full 4-field format: only there is field 2 a start
    // time by contract.
    java.nio.file.Files.write(lock.toPath,
      s"${ProcessHandle.current().pid()} 12345 67890 recycled".getBytes)
    assert(lock.setLastModified(System.currentTimeMillis() - 11L * 60 * 1000))
    graft.core.WriterLease.withLease(dir, "test") { () }
    assert(!lock.exists())
  }

  test("a LEGACY 3-field token of a live pid is never start-time-matched (ADVICE r14)") {
    val dir = graft.core.TempDirs.create("graft_lease_legacy")
    val lock = lockOf(dir)
    // Pre-upgrade token format was `pid millis uuid`: its field 2 is a
    // CREATION timestamp, which can never match the holder's process
    // start time. Parsing it as a start time would declare a live but
    // heartbeat-starved old-binary writer dead and reclaim its lock —
    // exactly the two-concurrent-writers case the alive-pid rule
    // protects. A 3-field token must fall back to pid-liveness alone:
    // the pid is alive (it is ours) → refuse reclaim.
    java.nio.file.Files.write(lock.toPath,
      s"${ProcessHandle.current().pid()} ${System.currentTimeMillis()} legacyuuid".getBytes)
    assert(lock.setLastModified(System.currentTimeMillis() - 11L * 60 * 1000))
    val e = intercept[IllegalStateException] {
      graft.core.WriterLease.withLease(dir, "test") { () }
    }
    assert(e.getMessage.contains("single-writer"))
    assert(lock.exists())
    java.nio.file.Files.delete(lock.toPath)
  }

  test("heartbeat refreshes the lock mtime only while the token is ours") {
    val dir = graft.core.TempDirs.create("graft_lease_beat")
    val lock = lockOf(dir)
    java.nio.file.Files.write(lock.toPath, "42 0 mytoken".getBytes)
    val old = System.currentTimeMillis() - 11L * 60 * 1000
    assert(lock.setLastModified(old))
    // Wrong token: the tick is a no-op (a starved writer must not
    // freshen a lock a reclaimer took over).
    graft.core.WriterLease.heartbeatOnce(lock, "someone else")
    assert(math.abs(lock.lastModified() - old) < 2000)
    // Our token: the tick refreshes mtime, keeping a long mutation's
    // lock visibly live.
    graft.core.WriterLease.heartbeatOnce(lock, "42 0 mytoken")
    assert(System.currentTimeMillis() - lock.lastModified() < 60L * 1000)
    java.nio.file.Files.delete(lock.toPath)
  }

  test("tomb release deletes an owned lock and restores a non-owned one atomically") {
    val dir = graft.core.TempDirs.create("graft_lease_tomb")
    val lock = lockOf(dir)
    // Owned: released (deleted), no tomb debris left behind.
    java.nio.file.Files.write(lock.toPath, "7 0 tok-a".getBytes)
    graft.core.WriterLease.release(dir, "7 0 tok-a")
    assert(!lock.exists())
    assert(new java.io.File(dir).listFiles().forall(f => !f.getName.contains("tomb")),
      "release left a tomb file behind")
    // Not owned (reclaimed mid-overrun): the lock is moved back intact.
    java.nio.file.Files.write(lock.toPath, "8 0 reclaimer".getBytes)
    graft.core.WriterLease.release(dir, "7 0 tok-a")
    assert(lock.exists(), "release dropped a lock it did not own")
    assert(new String(java.nio.file.Files.readAllBytes(lock.toPath)) == "8 0 reclaimer")
    assert(new java.io.File(dir).listFiles().forall(f => !f.getName.contains("tomb")))
    java.nio.file.Files.delete(lock.toPath)
  }

  test("the IVF and semdedup mutators hold the same lease") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 64L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val ivfDir = graft.core.TempDirs.create("graft_lease_ivf")
    Ivf.writeIvfIndex(spark, ivfDir, vecs.toDF("vec_id", "embedding"))
    java.nio.file.Files.write(lockOf(ivfDir).toPath, "other 0".getBytes)
    intercept[IllegalStateException] {
      Ivf.IvfStore.delete(ivfDir, Seq(1L).toDF("vec_id"))
    }
    java.nio.file.Files.delete(lockOf(ivfDir).toPath)
    Ivf.IvfStore.delete(ivfDir, Seq(1L).toDF("vec_id"))
    assert(!lockOf(ivfDir).exists())

    val sdDir = graft.core.TempDirs.create("graft_lease_semdedup")
    SemDedup.writeSemdedupIndex(spark, sdDir, vecs.toDF("vec_id", "embedding"), tau = 0.9)
    java.nio.file.Files.write(lockOf(sdDir).toPath, "other 0".getBytes)
    intercept[IllegalStateException] {
      SemDedup.SemdedupStore.delete(sdDir, Seq(1L).toDF("vec_id"))
    }
    java.nio.file.Files.delete(lockOf(sdDir).toPath)
    SemDedup.SemdedupStore.delete(sdDir, Seq(1L).toDF("vec_id"))
    assert(!lockOf(sdDir).exists())

    // The MinHash and pHash families: every mutator, rebuild included.
    val docs = (0L until 8L).map(i => (i, doc(i.toInt))).toDF("doc_id", "text")
    val batch = Seq((100L, doc(100))).toDF("doc_id", "text")
    val mhDir = graft.core.TempDirs.create("graft_lease_minhash_ops")
    NearDup.MinhashIndex.write(mhDir, docs)
    val phDir = graft.core.TempDirs.create("graft_lease_phash_ops")
    NearDup.PhashIndex.write(phDir, docs)
    val ops: Seq[(String, Seq[String => Unit])] = Seq(
      mhDir -> Seq(
        d => NearDup.MinhashIndex.append(spark, d, batch),
        d => NearDup.MinhashIndex.store.delete(d, Seq(1L).toDF("doc_id")),
        d => NearDup.MinhashIndex.compact(spark, d),
        d => NearDup.MinhashIndex.rebuild(d, docs)),
      phDir -> Seq(
        d => NearDup.PhashIndex.append(spark, d, batch),
        d => NearDup.PhashIndex.store.delete(d, Seq(1L).toDF("doc_id")),
        d => NearDup.PhashIndex.compact(spark, d),
        d => NearDup.PhashIndex.rebuild(d, docs)))
    ops.foreach { case (dir, mutators) =>
      java.nio.file.Files.write(lockOf(dir).toPath, "other 0".getBytes)
      mutators.foreach(m => intercept[IllegalStateException] { m(dir) })
      java.nio.file.Files.delete(lockOf(dir).toPath)
      mutators.foreach { m => m(dir); assert(!lockOf(dir).exists()) }
    }
  }
}
