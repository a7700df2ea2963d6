package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkSession factory for the engine.
  *
  * Mirrors the reference's bootstrap (HdfsSink.java:36-44: env setup,
  * parallelism, checkpointing) re-expressed for Spark: one builder with
  * UTC time zone, AQE on, and shuffle partitions sized to the local core
  * count instead of the 200 default. On a real cluster the same builder is
  * used with `master` unset (spark-submit provides it) and
  * `spark.sql.shuffle.partitions` sized to ~2-3x total cores.
  */
object Engine {
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession =
    Harness.start(sessionConf(master, shufflePartitions))

  /** The engine session's conf: the certified base (core.Harness — UTC,
    * RocksDB state store with changelog checkpointing, the sized codegen
    * cache, the 4m fixture split cap) plus the engine's app name and an
    * explicit AQE on. Pure, so specs can pin it without a session.
    */
  def sessionConf(master: String, shufflePartitions: Int): Map[String, String] =
    Harness.conf(master, shufflePartitions) ++ Map(
      "spark.app.name" -> "graft",
      "spark.sql.adaptive.enabled" -> "true")

  /** Config-driven bootstrap (R9): the reference loads kafkaConfig.conf
    * via Typesafe Config and wires it into the environment
    * (Utility.java:19-23); here the bundled engine.conf (or any file
    * passed to Conf.fromFile) drives master + shuffle parallelism.
    */
  def session(conf: Conf): SparkSession = {
    val (master, partitions) = sessionSettings(conf)
    session(master, partitions)
  }

  /** Exposed separately so specs can pin the conf→settings mapping
    * without creating a second SparkSession.
    */
  def sessionSettings(conf: Conf): (String, Int) =
    (conf.getString("engine.master", "local[*]"),
      conf.getInt("engine.shuffle-partitions", 32))
}

/** Table registry over the driver-generated parquet fixtures.
  *
  * Every query receives `sfDir` (a scale-factor directory); all table
  * access goes through here so the storage layout is one place. Columnar
  * parquet is the engine's canonical storage (the idiomatic upgrade over
  * the reference's row-format text files, HdfsSink.java:117-119).
  */
object Tables {
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-table catalog. Every engine caches table resolution —
    * file listing, parquet footer schema inference — as CATALOG state;
    * re-deriving it on every query construction is driver-side work a
    * production metastore never repays. DataFrames are immutable plans,
    * safe to share across queries in a session. Keyed by (session, dir,
    * table): the driver fixtures are read-only, spec fixtures write to
    * a FRESH TempDir per planting (a (dir, table) pair never changes
    * content within a session), and a regenerated /tmp scale replica is
    * only read by short-lived receipt JVMs. Entries are evicted when
    * their session's context stops (SessionCache's stop listener) — the
    * weak keying this replaces could never collect anything, because
    * each cached plan strongly referenced the session it was keyed by
    * (ADVICE r14).
    */
  private val catalog = new SessionCache[(String, String), DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    catalog.getOrBuild(spark, (sfDir, name)) {
      // events.ts has shipped in different physical layouts across fixture
      // generations: TIMESTAMP(NANOS) (readable only as raw long via
      // nanosAsLong — Spark's vectorized reader rejects nanos outright) and
      // TIMESTAMP(MICROS) without timezone (read as TIMESTAMP_NTZ). The
      // conf is set BEFORE the read so a nanos file infers as long, then
      // normalizeEventsTs dispatches on whichever type actually arrived.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (name == "events") normalizeEventsTs(df)
      else df
    }
  }

  /** Seed-cache tag for the fixture table `<sfDir>/<name>.parquet`: the
    * directory of a marker-gated seed derived from that table. It is
    * `<version>-<hex(sfDir hash ^ mtime)>-<hex(length)>`, so a regenerated
    * fixture lands in a fresh seed directory and never adopts a stale one;
    * bump `version` when the seed's own layout changes. A fixture laid
    * out as a DIRECTORY (ScaleGen replicas) uses the newest mtime and the
    * summed length over the directory and every file beneath it — the
    * directory's own mtime does not move when a part file is rewritten in
    * place. A single-file fixture uses the file's own mtime and length.
    */
  def fixtureTag(version: String, sfDir: String, name: String): String = {
    val f = new java.io.File(sfDir, s"$name.parquet")
    val (mtime, len) =
      if (f.isDirectory) {
        def files(d: java.io.File): Seq[java.io.File] =
          Option(d.listFiles()).toSeq.flatten
            .flatMap(c => if (c.isDirectory) files(c) else Seq(c))
        val fs = files(f)
        ((f +: fs).map(_.lastModified()).max, fs.map(_.length()).sum)
      } else (f.lastModified(), f.length())
    s"$version-" + java.lang.Long.toHexString((sfDir.hashCode.toLong << 24) ^ mtime) +
      "-" + java.lang.Long.toHexString(len)
  }

  /** Normalize every ts layout to session-zone TimestampType at
    * microsecond precision, so all downstream queries — and the DuckDB
    * oracle, which reads the same file as a naive timestamp — see
    * identical values: raw nanos long → ns÷1000 µs (the truncation DuckDB
    * applies to nanos); TIMESTAMP_NTZ → cast in the UTC session (same
    * wall clock, same instant); TimestampType (ScaleGen-written fixtures)
    * passes through.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Parquet row groups backing a fixture table — the unit the parquet
    * reader cannot split (a row group is assigned whole to the split
    * holding its midpoint). Footer metadata only, no data scan;
    * memoized per (dir, table) since the fixture files are immutable
    * within a session (same contract as the resolved-table catalog).
    */
  private val rowGroupMemo =
    new scala.collection.concurrent.TrieMap[(String, String), Int]

  private[graft] def rowGroupCount(spark: SparkSession, sfDir: String, name: String): Int =
    rowGroupMemo.getOrElseUpdate((sfDir, name), {
      val f = new java.io.File(sfDir, s"$name.parquet")
      val files =
        if (f.isDirectory)
          f.listFiles().filter(c => c.isFile && c.getName.endsWith(".parquet")).toSeq
        else Seq(f)
      val conf = spark.sessionState.newHadoopConf()
      files.map { pf =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(pf.getPath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size finally r.close()
      }.sum
    })

  /** Input-LAYOUT-adaptive rebalance (optimization guide §2.5, the
    * "one huge unsplittable file" input-skew case): when a table is
    * backed by fewer row groups than half the session's parallelism,
    * every scan stage over it is capped at that width no matter what
    * `maxPartitionBytes` says — the 4m fixture split produces EMPTY
    * tasks, and everything below the first exchange (generator
    * explosions, partial aggregation, compiled kernels) runs on one
    * core. One round-robin exchange of the scanned rows restores
    * session-width parallelism for the kernel above. A production
    * layout (row groups >= parallelism/2) skips the exchange entirely:
    * the gate reads the actual parquet footer, so this is the
    * derive-from-input-layout pattern (statePartitionsFor), not a
    * local-mode constant. Apply only where the downstream math is
    * order-insensitive (row-local projections, integer counts, min/max,
    * digest selection): a round-robin exchange reorders rows, and the
    * oracle's float compare is bitwise.
    */
  private[graft] def rebalanceIfRowGroupBound(spark: SparkSession, sfDir: String,
      name: String)(df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (rowGroupCount(spark, sfDir, name) < math.max(2, par / 2)) df.repartition(par)
    else df
  }

  /** `apply` + [[rebalanceIfRowGroupBound]] — the common whole-table
    * form. Entries that push a selective filter into the scan first
    * apply the transform themselves, after the filter.
    */
  def spread(spark: SparkSession, sfDir: String, name: String): DataFrame =
    rebalanceIfRowGroupBound(spark, sfDir, name)(apply(spark, sfDir, name))

  /** Layout-robust file STREAM over a fixture table. Driver fixtures
    * are single FILES named `<table>.parquet` — the file source needs a
    * directory, so we stream the parent with a leaf-name glob; ScaleGen
    * replicas are DIRECTORIES of the same name — streamed directly (the
    * glob form silently matches ZERO leaf files there and fails schema
    * inference, which Bench's per-entry guard used to swallow: the sf1
    * sweeps through r11 recorded ~0.05 s no-op timings for the
    * document/supplier/embedding streaming entries; caught r12).
    */
  def streamTable(spark: SparkSession, sfDir: String, table: String): DataFrame =
    batchAndStream(spark, sfDir, s"$table.parquet")._2

  /** The ONE implementation of the file-vs-directory dispatch (r15: it
    * used to exist here AND inline in ext.Similarity.annIngestPipeline —
    * the ScaleGen-directory bug class was fixed in two places). Resolves
    * `leaf` (a literal file name or a glob) under `srcDir` to a
    * (static read, stream read) pair over the same files: callers that
    * need both — the ANN ingest pipeline seeds its index from the
    * static half and streams the rest — must get them from one dispatch
    * or the two halves can diverge on layout.
    */
  def batchAndStream(spark: SparkSession, srcDir: String,
      leaf: String): (DataFrame, DataFrame) = {
    val f = new java.io.File(srcDir, leaf)
    if (f.isDirectory) {
      val s = spark.read.parquet(f.getPath)
      (s, spark.readStream.schema(s.schema).parquet(f.getPath))
    } else {
      val s = spark.read.option("pathGlobFilter", leaf).parquet(srcDir)
      (s, spark.readStream.schema(s.schema)
        .option("pathGlobFilter", leaf).parquet(srcDir))
    }
  }
}
