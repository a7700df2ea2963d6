package graft.core

import org.apache.spark.sql.SparkSession

/** The ONE place the certified SparkSession configuration lives.
  *
  * Every session this repo builds — the harness mains (Verify, Bench,
  * Profile, Exchanges, Explain, ScaleGen), the config-driven
  * `Engine.session` bootstrap and the shared spec session — applies the
  * key→value map [[conf]] returns. Each caller declares only its DELTAS
  * from the certified base; every conf literal is here, once. The drift
  * this prevents bit round 14, when Bench silently lacked the UTC
  * session time zone every other main certified (a TIMESTAMP_NTZ event
  * normalization would have followed the host zone on a non-UTC host).
  *
  * The certified base:
  *  - `spark.sql.session.timeZone=UTC` — TIMESTAMP_NTZ event
  *    normalization (Tables.normalizeEventsTs) must not follow the
  *    host zone, or benched/verified work diverges across hosts.
  *  - `spark.sql.shuffle.partitions` = core count (never the 200
  *    default on a local[32] box).
  *  - UI off (headless harness).
  *  - `spark.hadoop.fs.file.impl` and
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl`: the fork-free
  *    local file system ([[LocalFs]]). Without `libhadoop`, Hadoop's
  *    stock one forks `chmod` for every file, `.crc` and directory it
  *    creates and `readlink` for every checkpoint-log rename, ~80
  *    processes per micro-batch of the CDC sink. Hadoop caches a `FileSystem` per
  *    scheme and user, not per conf, so the first `file:` instance a
  *    JVM builds is the one every later caller gets.
  *  - `spark.sql.codegen.cache.maxEntries=2000` (static conf, default
  *    100): the registry compiles ~211 distinct plans, so the default
  *    cache LRU-evicts across a sweep — the recompile class that forced
  *    the Bench canary's own re-warm-up at >155 plans. Sweep totals
  *    measured noise-dominated either way; this is the root-cause fix
  *    for the eviction class, and how a production deployment running
  *    this query surface would size the cache.
  *  - The production state store: the RocksDB provider with changelog
  *    checkpointing — the recommended production pairing, and what
  *    keeps the provider's per-micro-batch constant cost flat at small
  *    state sizes. RocksDB holds O(keys) state off-heap instead of
  *    degrading the JVM heap (SURVEY §14: 54.4 s vs 117 s on the 100x
  *    sessionization input). Every main runs it, so whatever a main
  *    executes — streams included — runs the configuration you'd run
  *    at scale.
  *  - `spark.sql.files.maxPartitionBytes=4m` unless disabled: the
  *    driver fixtures are single small parquet files; without a small
  *    split cap every scan is ONE task. Production overrides per
  *    cluster (the 128m default is right for real file sizes).
  *    ScaleGen disables it (it writes replicas; split width of the
  *    source read is irrelevant and the 10 tables are re-written
  *    partitioned anyway), and so does the spec session (tiny inputs).
  *  - `spark.buffer.pageSize` on a `local` master ([[pageSizeFor]] this
  *    JVM's max heap): the smallest power of two, at least 1 MiB, whose
  *    8,192-entry Tungsten page table (`TaskMemoryManager`'s
  *    `PAGE_TABLE_SIZE`; a task that needs page 8,193 throws) still
  *    covers the whole heap, so one task can still address all of
  *    execution memory. Spark's own default is the execution pool / cores
  *    / 16, rounded up to a power of two (16 MiB at a 3 GiB heap on
  *    `local[4]`). Sorts and hash maps hold their pages across young
  *    collections, so big pages are promoted into the old generation,
  *    which no collection empties during a run (perfbench's
  *    `merge_restore` on a 4-vCPU VM ended with 419 MB there at 16 MiB
  *    pages, 101 MB at 1 MiB, and peak RSS fell from 1,955 to
  *    1,520 MB). Other masters keep Spark's size: their executors have
  *    their own heaps.
  */
object Harness {

  /** Tungsten's page table size (`TaskMemoryManager.PAGE_TABLE_SIZE`). */
  val PageTableSize = 8192

  /** The certified Tungsten page size for a max heap of `heapBytes`:
    * the smallest power of two, at least 1 MiB, such that
    * [[PageTableSize]] pages cover the heap.
    */
  def pageSizeFor(heapBytes: Long): Long = {
    var page = 1L << 20
    while (PageTableSize * page < heapBytes) page <<= 1
    page
  }

  private val LocalMaster = """local(\[.*\])?""".r

  /** The certified conf as a key→value map. Pure: no session is built.
    *
    * @param master `spark.master`.
    * @param partitions the shuffle width.
    * @param splitSmallFiles the 4m fixture split cap.
    * @param bigDriverResults `spark.driver.maxResultSize=8g`: the
    *   streaming entries verify through a MEMORY sink (a driver table)
    *   by harness design; at 100x an O(input)-output entry like s_scd2
    *   emits ~10M rows, tripping the default 1g collect cap. A
    *   local-harness setting (128 GiB driver) — production sinks are
    *   files, not driver memory. Profile only.
    * @param measurementScratch `spark.local.dir` root — Bench/Profile
    *   ride the RAM-backed measurement scratch (see
    *   TempDirs.enableMeasurementScratch's disclosure).
    */
  def conf(
      master: String,
      partitions: Int,
      splitSmallFiles: Boolean = true,
      bigDriverResults: Boolean = false,
      measurementScratch: Option[String] = None): Map[String, String] = {
    def when(on: Boolean)(kvs: (String, String)*) = if (on) kvs else Nil
    (Seq(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> classOf[LocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName,
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true") ++
      when(splitSmallFiles)("spark.sql.files.maxPartitionBytes" -> "4m") ++
      when(bigDriverResults)("spark.driver.maxResultSize" -> "8g") ++
      when(LocalMaster.matches(master))("spark.buffer.pageSize" ->
        s"${pageSizeFor(Runtime.getRuntime.maxMemory) >> 20}m") ++
      measurementScratch.map(r => "spark.local.dir" -> s"$r/spark_local")).toMap
  }

  /** Build (or join) the session a [[conf]] map describes, WARN-level. */
  def start(conf: Map[String, String]): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A harness main's session: `local[cpus]` at `cpus` shuffle width
    * plus the main's deltas (see [[conf]]).
    */
  def session(
      cpus: String,
      splitSmallFiles: Boolean = true,
      bigDriverResults: Boolean = false,
      measurementScratch: Option[String] = None): SparkSession =
    start(conf(s"local[$cpus]", cpus.toInt, splitSmallFiles, bigDriverResults,
      measurementScratch))
}
