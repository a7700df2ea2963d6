package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Engine, Harness, Tables}

/** The certified session conf has ONE definition (core.Harness.conf);
  * these pins spell out, literal by literal, the map each kind of caller
  * applies, so a change to the certified base is a visible diff here.
  */
class HarnessSpec extends AnyFunSuite with SparkTest {

  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("Harness.session(cpus) with default deltas applies exactly the certified map") {
    // What Verify and the perfbench harness run.
    assert(Harness.conf("local[8]", 8) == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> "graft.core.LocalFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.core.LocalFs",
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.streaming.stateStore.providerClass" -> rocksDb,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
  }

  test("each harness delta adds or drops only its own keys") {
    val base = Harness.conf("local[2]", 2)
    assert(Harness.conf("local[2]", 2, splitSmallFiles = false) ==
      base - "spark.sql.files.maxPartitionBytes")
    assert(Harness.conf("local[2]", 2, certifiedStreaming = false) ==
      base - "spark.sql.streaming.stateStore.providerClass" -
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    assert(Harness.conf("local[2]", 2, codegenCache = None) ==
      base - "spark.sql.codegen.cache.maxEntries")
    assert(Harness.conf("local[2]", 2, bigDriverResults = true) ==
      base + ("spark.driver.maxResultSize" -> "8g"))
    assert(Harness.conf("local[2]", 2, staticPlans = true) ==
      base + ("spark.sql.adaptive.enabled" -> "false"))
    assert(Harness.conf("local[2]", 2, measurementScratch = Some("/dev/shm/x")) ==
      base + ("spark.local.dir" -> "/dev/shm/x/spark_local"))
  }

  test("Engine.session is the certified map plus app name and AQE on") {
    assert(Engine.sessionConf("local[*]", 32) == Map(
      "spark.master" -> "local[*]",
      "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> "graft.core.LocalFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.core.LocalFs",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.streaming.stateStore.providerClass" -> rocksDb,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "4m"))
  }

  test("the spec session is local[4], certified, with no split cap, and runs that map") {
    assert(SparkTest.conf == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> "graft.core.LocalFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.core.LocalFs",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.streaming.stateStore.providerClass" -> rocksDb,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
    SparkTest.conf.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) == v, k)
    }
  }

  // ---- seed-cache fixture tags ---------------------------------------

  private def write(f: java.io.File, bytes: Int): Unit = {
    java.nio.file.Files.write(f.toPath, Array.fill[Byte](bytes)(1))
    ()
  }

  test("fixtureTag over a single-file fixture keeps the mtime+length format") {
    val dir = graft.core.TempDirs.create("graft_tag_spec")
    val f = new java.io.File(dir, "events.parquet")
    write(f, 300)
    assert(f.setLastModified(1700000000123L))
    val expect = "v1-" +
      java.lang.Long.toHexString((dir.hashCode.toLong << 24) ^ 1700000000123L) +
      "-" + java.lang.Long.toHexString(300L)
    assert(Tables.fixtureTag("v1", dir, "events") == expect)
    assert(Tables.fixtureTag("v6", dir, "events") == "v6" + expect.drop(2))
  }

  test("fixtureTag over a directory fixture changes when a part file is rewritten") {
    val dir = graft.core.TempDirs.create("graft_tag_spec")
    val table = new java.io.File(dir, "documents.parquet")
    table.mkdirs()
    val part = new java.io.File(table, "part-00000.parquet")
    write(part, 100)
    write(new java.io.File(table, "part-00001.parquet"), 50)
    val t0 = 1700000000000L
    Seq(table, part, new java.io.File(table, "part-00001.parquet"))
      .foreach(f => assert(f.setLastModified(t0)))
    val before = Tables.fixtureTag("v1", dir, "documents")
    assert(before.endsWith("-" + java.lang.Long.toHexString(150L)), before)
    // A rewrite in place with a new length (the directory's own mtime
    // does not move).
    write(part, 120)
    assert(part.setLastModified(t0) && table.setLastModified(t0))
    val resized = Tables.fixtureTag("v1", dir, "documents")
    assert(resized != before)
    // A same-length rewrite is caught by the part file's mtime.
    write(part, 120)
    assert(part.setLastModified(t0 + 5000L) && table.setLastModified(t0))
    val touched = Tables.fixtureTag("v1", dir, "documents")
    assert(touched != resized && touched != before)
  }
}
