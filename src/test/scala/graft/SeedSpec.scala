package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{TempDirs, Warehouse}

/** Marker-gated seeds: one body builds each seed once, and every seed
  * location carries the fixture tag, so a regenerated fixture never
  * adopts a stale seed.
  */
class SeedSpec extends AnyFunSuite {

  test("a length change to the fixture moves the bucketed, blob and Derby seed locations") {
    val sf = TempDirs.create("graft_seed_tags")
    val tables = Seq("orders", "customer", "documents", "events")
    val mtime = 1700000000000L
    def write(t: String, bytes: Int): Unit = {
      val f = new java.io.File(sf, s"$t.parquet")
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](bytes)(1))
      assert(f.setLastModified(mtime))
    }
    def locations(): Seq[String] = Seq(
      graft.ops.Bucketed.tableName(sf, "orders"),
      graft.ops.Bucketed.tableName(sf, "customer"),
      graft.ext.Multimodal.blobTag(sf),
      graft.ops.Sources.derbyDir(sf).getPath)
    tables.foreach(write(_, 100))
    val before = locations()
    // Same path, same mtime, new length: a regenerated fixture the old
    // second-resolution, length-free tags could not tell apart.
    tables.foreach(write(_, 101))
    val after = locations()
    before.zip(after).foreach { case (b, a) => assert(b != a, s"seed location $b did not move") }
    (before.take(2) ++ after.take(2)).foreach(n =>
      assert(n.matches("[A-Za-z_][A-Za-z0-9_]*"), s"$n is not a valid table identifier"))
  }

  test("ensureSeed builds once, and redoes a build that crashed before its marker") {
    val dir = new java.io.File(TempDirs.create("graft_seed_body"), "seed")
    var builds = 0
    def seed(): String = Warehouse.ensureSeed(dir) { d =>
      builds += 1
      java.nio.file.Files.write(new java.io.File(d, "data").toPath, "x".getBytes)
      ()
    }
    def count = Warehouse.seedCounts(dir.getPath)
    assert(seed() == dir.getPath && builds == 1)
    assert(count == Warehouse.SeedCount(hits = 0, misses = 1))
    assert(seed() == dir.getPath && builds == 1, "a marked seed was rebuilt")
    assert(count == Warehouse.SeedCount(hits = 1, misses = 1))
    // A crashed build: debris, no marker — the next call starts clean.
    new java.io.File(dir, "_SEEDED").delete()
    java.nio.file.Files.write(new java.io.File(dir, "partial").toPath, "y".getBytes)
    seed()
    assert(builds == 2 && !new java.io.File(dir, "partial").exists())
    assert(new java.io.File(dir, "_SEEDED").exists())
    assert(count == Warehouse.SeedCount(hits = 1, misses = 2))
  }
}
