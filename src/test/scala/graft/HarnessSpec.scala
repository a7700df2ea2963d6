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

  /** The Tungsten page every local map certifies for this JVM's heap. */
  private val page = s"${Harness.pageSizeFor(Runtime.getRuntime.maxMemory) >> 20}m"

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
      "spark.buffer.pageSize" -> page,
      "spark.sql.streaming.stateStore.providerClass" -> rocksDb,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
  }

  test("each harness delta adds or drops only its own keys") {
    val base = Harness.conf("local[2]", 2)
    assert(Harness.conf("local[2]", 2, splitSmallFiles = false) ==
      base - "spark.sql.files.maxPartitionBytes")
    assert(Harness.conf("local[2]", 2, bigDriverResults = true) ==
      base + ("spark.driver.maxResultSize" -> "8g"))
    assert(Harness.conf("local[2]", 2, measurementScratch = Some("/dev/shm/x")) ==
      base + ("spark.local.dir" -> "/dev/shm/x/spark_local"))
  }

  test("a master that is not local keeps Spark's own page size") {
    for (master <- Seq("spark://head:7077", "yarn", "local-cluster[2,1,1024]")) {
      assert(Harness.conf(master, 8) ==
        (Harness.conf("local[8]", 8) - "spark.buffer.pageSize" + ("spark.master" -> master)))
      assert(!Engine.sessionConf(master, 8).contains("spark.buffer.pageSize"), master)
    }
    for (master <- Seq("local", "local[*]", "local[4,2]"))
      assert(Harness.conf(master, 8)("spark.buffer.pageSize") == page, master)
  }

  test("the page is the smallest power of two >= 1 MiB whose 8,192-page table covers the heap") {
    val GiB = 1L << 30
    val MiB = 1L << 20
    for ((heap, want) <- Seq(3 * GiB -> MiB, 8 * GiB -> MiB, 32 * GiB -> 4 * MiB,
        128 * GiB -> 16 * MiB, 8 * GiB + 1 -> 2 * MiB, 256 * MiB -> MiB)) {
      val got = Harness.pageSizeFor(heap)
      assert(got == want, s"heap $heap")
      assert(Harness.PageTableSize * got >= heap, s"heap $heap")
      assert(got == MiB || Harness.PageTableSize * (got / 2) < heap, s"heap $heap")
    }
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
      "spark.buffer.pageSize" -> page,
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
      "spark.buffer.pageSize" -> page,
      "spark.sql.streaming.stateStore.providerClass" -> rocksDb,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
    SparkTest.conf.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) == v, k)
    }
  }

  test("the spec session runs the certified page; sorts and groups across many pages match a driver reference") {
    import org.apache.spark.sql.functions._
    val pageBytes = org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes
    assert(pageBytes == Harness.pageSizeFor(Runtime.getRuntime.maxMemory))
    // One input partition, so one sort task and one partial-aggregate
    // task hold every row: 32 pages of 1 KiB payloads for the sort, 16
    // pages of distinct 1 KiB grouping keys for the hash map, plus one
    // row three pages wide (a page of its own in both).
    val width = 1024
    val n = (32 * pageBytes / width).toInt
    val bigId = n / 3L
    val big = 3 * pageBytes.toInt
    def payload(id: Long): String = {
      val g = (id % (n / 2)).toString
      if (id == bigId) "y" * big else g + "x" * (width - g.length)
    }
    val rows = spark.range(0, n, 1, 1).select(col("id"),
      pmod(col("id") * 7919, lit(n.toLong)).as("key"),
      when(col("id") === bigId, repeat(lit("y"), big))
        .otherwise(rpad(pmod(col("id"), lit(n / 2L)).cast("string"), width, "x"))
        .as("payload"))
    val sorted = rows.sortWithinPartitions(col("key").desc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val ids = 0L until n
    assert(sorted == ids.map(id => (id, id * 7919 % n, payload(id))).sortBy(-_._2))
    val grouped = rows.groupBy(col("payload")).agg(count(lit(1)), sum(col("id"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(grouped == ids.groupBy(payload).map { case (p, g) => (p, g.size.toLong, g.sum) }.toSet)
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
