package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.Streaming

/** Streaming semantics beyond the rows>0 smoke: exact late-data-drop
  * output, stream==batch window equivalence, and out-of-order upsert
  * behavior of the ts-aware merge.
  */
class StreamingSpec extends AnyFunSuite with SparkTest {

  test("s_watermark_late drops the late row from its window") {
    val out = SparkEntry.queries("s_watermark_late")(spark, sf).collect()
    val byWindow = out.map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // 10:00 window holds the two on-time rows; the late 10:05 replay must
    // NOT have bumped it to 3. 12:00 window holds 12:00 + 12:30.
    assert(byWindow == Map(
      "2024-01-01 10:00:00.0" -> 2L,
      "2024-01-01 12:00:00.0" -> 2L))
  }

  test("s_tumbling equals q_tumbling_batch on the same data") {
    val streamRes = SparkEntry.queries("s_tumbling")(spark, sf).collect()
    val batchRes = SparkEntry.queries("q_tumbling_batch")(spark, sf).collect()
    assert(streamRes.toSeq == batchRes.toSeq)
  }

  test("s_join_interval equals q_interval_join on the same data") {
    val streamRes = SparkEntry.queries("s_join_interval")(spark, sf).collect()
    val batchRes = SparkEntry.queries("q_interval_join")(spark, sf).collect()
    assert(streamRes.nonEmpty && streamRes.toSeq == batchRes.toSeq)
  }

  test("s_funnel equals q_funnel on the same data (CEP state == staged joins)") {
    // The keyed-state sequence detector and the batch min-join cascade
    // are two plans for one semantic; bounded input must converge them.
    val streamRes = SparkEntry.queries("s_funnel")(spark, sf).collect()
    val batchRes = SparkEntry.queries("q_funnel")(spark, sf).collect()
    assert(streamRes.nonEmpty && streamRes.toSeq == batchRes.toSeq)
  }

  test("stateful query output is state-store-provider-agnostic (heap fallback == RocksDB)") {
    // The state store is a deployment knob, not a semantic: the same
    // mapGroupsWithState query must produce identical output on the
    // registered production provider (RocksDB, set engine-wide in
    // Engine.session — state spills off-heap to local SSD instead of
    // living on the JVM heap) and the HDFS-backed in-memory provider
    // (Spark's out-of-the-box default, kept as the documented fallback).
    val heap = graft.core.SessionConf.scoped(spark,
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider") {
      SparkEntry.queries("s_stateful_count")(spark, sf).collect().toSeq
    }
    val rocks = SparkEntry.queries("s_stateful_count")(spark, sf).collect().toSeq
    assert(rocks.nonEmpty && rocks == heap)
  }

  test("stateful query output is state-width-agnostic (smallStateWidth is a knob, not a semantic)") {
    // BoundedStream.toMemory's width sets the bounded-run state
    // partitioning (the r17 paired receipt measured widths 8/4/2); like
    // the provider above, it must never move one output row.
    def perUser(width: Int) = graft.core.BoundedStream.toMemory(
      Streaming.streamEvents(spark, sf).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts")),
      "complete", width).orderBy("user_id").collect().toSeq
    val narrow = perUser(3)
    val default = perUser(graft.core.BoundedStream.SmallStateWidth)
    assert(default.nonEmpty && default == narrow)
  }

  private val mergeCols = Seq("user_id", "event_id", "v", "ts")

  private def mergeDf(rows: Seq[(Long, Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("user_id", "event_id", "v", "ts_s")
      .select(col("user_id"), col("event_id"), col("v"),
        col("ts_s").cast("timestamp").as("ts"))
  }

  test("tsAwareMerge: older delta cannot regress a key; new keys insert") {
    val snap = mergeDf(Seq((1L, 10L, "new", "2024-01-02 00:00:00"),
      (2L, 11L, "only-snap", "2024-01-01 00:00:00")))
    val delta = mergeDf(Seq((1L, 12L, "stale", "2024-01-01 00:00:00"),
      (3L, 13L, "inserted", "2024-01-03 00:00:00")))
    val got = Streaming.tsAwareMerge(snap, delta, "user_id", "ts", "event_id", mergeCols)
      .orderBy("user_id").select("user_id", "v").collect().toSeq
    assert(got == Seq(Row(1L, "new"), Row(2L, "only-snap"), Row(3L, "inserted")))
  }

  test("tsAwareMerge: equal-ts ties break by event_id like latestState") {
    val ts = "2024-01-02 00:00:00"
    // Snapshot holds (ts, event_id=20); a later batch replays the SAME ts
    // with a lower event_id — must NOT overwrite (latestState keeps the
    // higher event_id at equal ts). A higher event_id at equal ts must win.
    val snap = mergeDf(Seq((1L, 20L, "keep", ts), (2L, 30L, "lose", ts)))
    val delta = mergeDf(Seq((1L, 19L, "lower-id", ts), (2L, 31L, "higher-id", ts)))
    val got = Streaming.tsAwareMerge(snap, delta, "user_id", "ts", "event_id", mergeCols)
      .orderBy("user_id").select("user_id", "v").collect().toSeq
    assert(got == Seq(Row(1L, "keep"), Row(2L, "higher-id")))
  }

  test("checkpoint restart resumes exactly-once (R6)") {
    // Kill-and-resume: run a file stream to completion on the first input
    // file, stop, drop a second file in, restart from the SAME
    // checkpointLocation. The restarted query must process ONLY the new
    // file (offsets come from the checkpoint) and the committed sink must
    // contain every input row exactly once.
    import spark.implicits._
    import org.apache.spark.sql.types._
    val in = java.nio.file.Files.createTempDirectory("graft_ckpt_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_meta").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    def writeFile(ids: Range, name: String): Unit =
      ids.map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$in/$name")
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeFile(0 until 10, "f1")
    run() // first life of the query: commits f1, then "dies"
    writeFile(10 until 25, "f2")
    run() // second life: resumes from the checkpoint
    val got = spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
    assert(got == (0L until 25L), "restart must add only the new file's rows, no duplicates")
  }

  test("s_cdc_canal pipeline is exactly-once across a crash BETWEEN sink commit and checkpoint (R1/R6)") {
    // The strongest broker-less R1/R6 claim: foreachBatch-style replays
    // aside, the FileStreamSink's own batchId ledger (_spark_metadata)
    // must dedup a micro-batch whose SINK commit landed but whose
    // CHECKPOINT offset commit did not — the exact at-least-once window
    // a broker delivery would hit. Simulated surgically: run the full
    // Canal pipeline (parse → DDL filter → flatten → dt partition →
    // parquet sink) over a 3-file topic at one file per micro-batch,
    // then DELETE the last checkpoint commit record (sink has batch N,
    // checkpoint doesn't — precisely the crash window) and restart.
    // The replayed batch must be skipped by the sink ledger: committed
    // output byte-identical, no new data files.
    import graft.core.SessionConf
    SessionConf.scoped(spark,
      "spark.sql.sources.partitionColumnTypeInference.enabled", "false") {
    val topic = java.nio.file.Files.createTempDirectory("graft_canal_crash_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_canal_crash_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_canal_crash_ckpt").toString
    graft.core.Tables(spark, sf, "events")
      .select(to_json(struct(
        col("event_id").as("id"),
        (unix_micros(col("ts")) / lit(1000L)).cast("long").as("es"),
        ((unix_micros(col("ts")) / lit(1000L)).cast("long") + lit(1000L)).as("ts"),
        when(col("event_type") === "error", "CREATE").otherwise("INSERT").as("type"),
        when(col("event_type") === "error", "true").otherwise("false").as("isDdl"),
        lit("qfbap_ods").as("database"),
        lit("events").as("table"),
        array(map(
          lit("user_id"), col("user_id").cast("string"),
          lit("event_type"), col("event_type"),
          lit("value"), col("value").cast("string"))).as("data"))).as("value"))
      .repartition(3)
      .write.mode("overwrite").text(topic)
    def run(): Unit = {
      val parsed = graft.cdc.Cdc.parseEnvelope(spark.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", "1").text(topic))
      val shaped = graft.cdc.Cdc
        .flatten(graft.cdc.Cdc.ddlFilter(parsed), Seq("user_id", "event_type", "value"))
        .withColumn("dt", graft.cdc.Cdc.eventTimeDt(col("es")))
      val q = shaped.writeStream
        .format("parquet").partitionBy("dt")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // life 1: all 3 micro-batches commit (sink AND checkpoint)
    def committedRows() = spark.read.parquet(out)
      .select("id", "dt").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(out))
        .filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("_spark_metadata"))
        .map(_.getName).sorted
    }
    val rowsBefore = committedRows()
    val filesBefore = dataFiles()
    assert(rowsBefore.nonEmpty)
    // Crash window: sink metadata holds the last batch, checkpoint
    // commit log does not.
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val lastCommit = commits.last
    assert(lastCommit.delete(), "failed to remove the last checkpoint commit")
    // The local ChecksumFs keeps a .N.crc sidecar; a real crash loses
    // both (the commit write is one atomic rename) — drop it too.
    new java.io.File(lastCommit.getParentFile, s".${lastCommit.getName}.crc").delete()
    run() // life 2: the engine re-runs the last micro-batch; sink must dedup
    assert(committedRows() == rowsBefore,
      "replayed micro-batch changed the committed output (duplicates or loss)")
    assert(dataFiles() == filesBefore,
      s"replayed micro-batch wrote new data files: ${dataFiles().diff(filesBefore)}")
    // The checkpoint healed: the commit record is back.
    assert(new java.io.File(ckpt, "commits").listFiles()
      .exists(_.getName == lastCommit.getName))
    }
  }

  test("s_dedup_stateful snapshot equals batch latest-state") {
    val streamRes = SparkEntry.queries("s_dedup_stateful")(spark, sf).collect()
    val batchRes = SparkEntry.queries("q_latest_state")(spark, sf).collect()
    assert(streamRes.toSeq == batchRes.toSeq)
  }

  test("s_scd2 open-row state survives kill-and-resume (interval closed across lives)") {
    // Life 1 processes version A of an entity (emitting it OPEN) and dies;
    // life 2 restarts from the checkpoint and processes version B. The
    // closed [A.ts, B.ts) interval can only be emitted if A — the open-row
    // STATE — was recovered from the state store: the input file holding A
    // is never re-read (offsets come from the checkpoint too).
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
    import org.apache.spark.sql.types._
    val in = java.nio.file.Files.createTempDirectory("graft_scd2_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_scd2_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2_ckpt").toString
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts", TimestampType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def writeFile(rows: Seq[(Long, Long, java.sql.Timestamp)], name: String): Unit =
      rows.toDF("user_id", "event_id", "ts")
        .coalesce(1).write.mode("overwrite").parquet(s"$in/$name")
    def run(): Unit = {
      val events = spark.readStream.schema(schema).parquet(s"$in/*")
        .as[(Long, Long, java.sql.Timestamp)]
      val emitted = events.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, java.sql.Timestamp),
          (Long, Long, java.sql.Timestamp, Option[java.sql.Timestamp])](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          case (user, rows, state) =>
            val sorted = rows.toSeq.sortBy(r => (r._3.getTime, r._2))
            val buf = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, java.sql.Timestamp, Option[java.sql.Timestamp])]
            var open: Option[(Long, java.sql.Timestamp)] = state.getOption
            sorted.foreach { r =>
              open.foreach(o => buf += ((user, o._1, o._2, Some(r._3))))
              open = Some((r._2, r._3))
            }
            open.foreach { o => state.update(o); buf += ((user, o._1, o._2, None)) }
            buf.iterator
        }
        .toDF("user_id", "event_id", "valid_from", "valid_to")
      val q = emitted.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeFile(Seq((1L, 100L, ts("2024-01-01 00:00:00"))), "f1")
    run() // life 1: emits (100, open), then "dies"
    writeFile(Seq((1L, 200L, ts("2024-01-02 00:00:00"))), "f2")
    run() // life 2: must CLOSE version 100 using recovered state
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getLong(1), Option(r.getTimestamp(3)))).toSet
    assert(rows.contains((100L, Some(ts("2024-01-02 00:00:00")))),
      s"version 100 must be closed at version 200's ts via recovered state; got $rows")
    assert(rows.contains((200L, None)), s"version 200 must be the open row; got $rows")
  }

  test("s_mv_refresh MV merge survives kill-and-resume (durable MV, no re-scan, no double count)") {
    // The incremental-MV state is the MV TABLE itself. Life 1 aggregates
    // file 1 into MV v0 and dies; life 2 restarts from the checkpoint,
    // reads ONLY file 2 (offsets are checkpointed), recovers the current
    // MV from DISK (the latest committed vN — a restarted driver has no
    // memory), and merges. The final MV must equal the full recompute:
    // if life 2 re-read file 1 the counts double; if it failed to recover
    // v0 the file-1 groups vanish — the equality catches both corruptions.
    val mv = new MvFold("graft_mv")
    import mv._
    writeFile(Seq(("click", 1.0), ("click", 2.0), ("view", 5.0)), "f1")
    mv.run() // life 1: MV v0 = {click: (2, 3.0), view: (1, 5.0)}, then "dies"
    writeFile(Seq(("click", 10.0), ("buy", 7.0)), "f2")
    mv.run() // life 2: must merge ONLY f2 into the recovered v0
    val got = latestMv()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("click", 3L, 13.0), ("view", 1L, 5.0), ("buy", 1L, 7.0)),
      s"MV after restart must equal the full recompute; got $got")
  }

  test("s_mv_refresh MV fold replays a batch whose checkpoint commit was lost without double counting") {
    // The crash window of the s_cdc_canal test, for the snapshot fold:
    // batch 1 wrote its MV v1, but its checkpoint commit record did not
    // land. The rerun replays batch 1 (same input, same batchId), which
    // must rebuild v1 from v0 — not merge f2 into v1 a second time, and
    // not start from an empty MV.
    val mv = new MvFold("graft_mv_replay")
    import mv._
    writeFile(Seq(("click", 1.0), ("click", 2.0), ("view", 5.0)), "f1")
    mv.run()
    writeFile(Seq(("click", 10.0), ("buy", 7.0)), "f2")
    mv.run()
    val lastCommit = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    assert(lastCommit.getName == "1" && lastCommit.delete(),
      "failed to remove the last checkpoint commit")
    new java.io.File(lastCommit.getParentFile, s".${lastCommit.getName}.crc").delete()
    mv.run() // replays batch 1
    assert(lastCommit.exists(), "the replay did not re-commit batch 1")
    val got = latestMv()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("click", 3L, 13.0), ("view", 1L, 5.0), ("buy", 1L, 7.0)),
      s"MV after a replay must equal the full recompute; got $got")
  }

  /** The s_mv_refresh fold (BoundedStream.foldSnapshots) over a parquet
    * input dir, with a fixed MV root and checkpoint so it can be killed
    * and resumed: each `run()` is one life of the query.
    */
  private class MvFold(prefix: String) {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val in = java.nio.file.Files.createTempDirectory(s"${prefix}_in").toString
    val root = java.nio.file.Files.createTempDirectory(s"${prefix}_tbl").toString
    val ckpt = java.nio.file.Files.createTempDirectory(s"${prefix}_ckpt").toString
    private val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def writeFile(rows: Seq[(String, Double)], name: String): Unit =
      rows.toDF("event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$in/$name")
    def latestMv(): org.apache.spark.sql.DataFrame =
      graft.core.Versions.read(spark, root, graft.core.Versions.newest(root).get)
    def run(): Unit =
      graft.core.BoundedStream.foldSnapshots(
          spark.readStream.schema(schema).parquet(s"$in/*"), root, ckpt)(
        _.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value")))(
        _.unionByName(_)
          .groupBy("event_type")
          .agg(sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value")))
  }

  test("streaming envelope fuzz: hostile Canal topic dead-letters, never fails the query") {
    // The streaming twin of CdcSpec's batch fuzz property, over the SAME
    // hostile corpus (EnvelopeFuzz): the s_cdc_canal pipeline shape —
    // text topic → parseEnvelope → ddlFilter → flatten → eventTimeDt →
    // partitioned file sink — must route poison records to the
    // dead-letter bucket (or drop them cleanly), never fail a micro-batch.
    // One poison record killing a production topic consumer is the
    // failure mode the reference guards with its try/catch → dt=00000000
    // (EventTimeBucketAssigner.java:25-27).
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.sql.streaming.Trigger
    import graft.cdc.Cdc
    graft.core.SessionConf.scoped(spark,
      "spark.sql.sources.partitionColumnTypeInference.enabled", "false") {
      val topicDir = graft.core.TempDirs.create("graft_fuzz_topic")
      val outDir = graft.core.TempDirs.create("graft_fuzz_out")
      // 5 deterministic hostile batches + one guaranteed-valid record.
      // Garbage lines may contain \n/\r — the text source re-frames them
      // into even more truncated records, which is added hostility, not a
      // problem; the one-line valid envelope survives framing intact.
      val lines = ((1L to 5L).flatMap(EnvelopeFuzz.corpus) :+ EnvelopeFuzz.valid)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(topicDir, "topic.txt"),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val parsed = Cdc.parseEnvelope(spark.readStream.schema(
        StructType(Seq(StructField("value", StringType)))).text(topicDir))
      val shaped = Cdc.flatten(Cdc.ddlFilter(parsed), Seq("id", "city"))
        .withColumn("dt", Cdc.eventTimeDt(col("es")))
      val q = shaped.writeStream
        .format("parquet").partitionBy("dt")
        .option("path", outDir)
        .option("checkpointLocation", graft.core.TempDirs.create("graft_fuzz_ckpt"))
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination() // throws StreamingQueryException on any task failure
      val out = spark.read.parquet(outDir).select("dt", "line")
        .collect().map(r => (r.getString(0), r.getString(1)))
      out.foreach { case (dt, line) =>
        assert(dt == "00000000" || dt.matches("-?\\d{4,}\\d{4}"),
          s"streamed bucket '$dt' for line '$line'")
      }
      // Non-vacuity: the valid envelope reached its event-time bucket.
      assert(out.exists(_._1 == "20200324"),
        s"valid envelope missing from sink; buckets=${out.map(_._1).distinct.toSeq}")
    }
  }

  test("s_dq_monitor: planted violations counted exactly, cumulative verdict matches recompute") {
    import spark.implicits._
    val base = 1700000000000L * 1000000L
    def ev(id: Long, t: String, v: Double, props: String = "{}") =
      BehaviorSpecEv(id, base + id * 1000000L, 1L, t, v, props)
    val events = Seq(
      ev(1, "click", 10.0),
      ev(2, "weird_type", 10.0),                 // accepted_values violation
      ev(3, "view", 250.0),                      // range violation
      ev(4, "purchase", 99.9),
      BehaviorSpecEv(5, base, 1L, "click", 5.0, null)) // completeness violation
    val dir = graft.core.TempDirs.create("graft_sdq_spec")
    events.toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/_tmp_events")
    // streamEvents globs events.parquet as a single FILE.
    val part = new java.io.File(s"$dir/_tmp_events").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(s"$dir/events.parquet").toPath)
    val got = SparkEntry.queries("s_dq_monitor")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(got == Map(
      "accepted_values:event_type" -> ((1L, false)),
      "completeness:props" -> ((1L, false)),
      "nonneg:user_id" -> ((0L, true)),
      "range:value[0,100]" -> ((1L, false))))
  }

  test("s_drift_monitor: per-batch counter merge is exact and the served PSI equals the batch entry") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-05 00:00:00").getTime * 1000000L
    val cur = java.sql.Timestamp.valueOf("2024-01-20 00:00:00").getTime * 1000000L
    // Planted drift: 'shift' moves all mass bin 0 -> bin 9 across the
    // period split; 'flat' stays identical.
    val events = (0 until 20).map { i =>
      val (t, ts, v) =
        if (i < 10) ("shift", if (i < 5) base else cur, if (i < 5) 10.0 else 480.0)
        else ("flat", if (i < 15) base else cur, 120.0)
      BehaviorSpecEv(i.toLong, ts + i * 1000000L, 1L, t, v, "{}")
    }
    // Merge algebra the stream relies on: counts of two halves, summed,
    // feed driftPsi identically to one-pass counts over the union.
    val df = events.toDF()
    import graft.core.Tables.normalizeEventsTs
    val (h1, h2) = (normalizeEventsTs(df.filter($"event_id" % 2 === 0)),
      normalizeEventsTs(df.filter($"event_id" % 2 === 1)))
    val mergedCounts = graft.ops.Quality.driftCounts(h1)
      .unionByName(graft.ops.Quality.driftCounts(h2))
      .groupBy("event_type", "bin")
      .agg(org.apache.spark.sql.functions.sum($"ca").as("ca"),
        org.apache.spark.sql.functions.sum($"cb").as("cb"))
    val viaMerge = graft.ops.Quality.driftPsi(spark, mergedCounts).collect().toSeq
    val oneShot = graft.ops.Quality.driftPsi(spark,
      graft.ops.Quality.driftCounts(normalizeEventsTs(df))).collect().toSeq
    assert(viaMerge == oneShot && oneShot.nonEmpty)
    // End-to-end: the streaming entry serves exactly the batch entry's
    // table on the same fixture.
    val dir = graft.core.TempDirs.create("graft_sdrift_spec")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/_tmp_events")
    val part = new java.io.File(s"$dir/_tmp_events").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(s"$dir/events.parquet").toPath)
    val streamed = SparkEntry.queries("s_drift_monitor")(spark, dir).collect().toSeq
    val batch = SparkEntry.queries("q_dq_drift")(spark, dir).collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
    val verdicts = streamed.map(r => r.getString(0) -> r.getString(4)).toMap
    assert(verdicts("shift") == "drift" && verdicts("flat") == "stable", verdicts)
  }
}
