package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.core.{BoundedStream, QueryDef, QueryModule, Seed, SessionConf, TempDirs}

/** Structured Streaming re-expression of the reference pipeline
  * (HdfsSink.java:34-127) plus the declared windowed-aggregation surface
  * (SURVEY.md §2.2 Streaming block).
  *
  * Every `s_*` query here is a REAL streaming query — `readStream` over the
  * fixture parquet (the stand-in for the Kafka topic, R1), transforms, a
  * sink, `Trigger.AvailableNow` — run to completion by
  * [[graft.core.BoundedStream]] and its result returned as a DataFrame so
  * the oracle can check it. Bounded input makes streaming results
  * deterministic, so all 20 entries here (18 `s_*` and the 2 `q_*` batch
  * twins) carry full DuckDB oracles (stream==batch equivalence, enforced
  * by `graft.Verify`'s oracle check, not just by a spec).
  *
  * Scale notes: a file/Kafka source parallelizes by input split/partition;
  * windowed aggregation state is partitioned by (window, keys) in the state
  * store; `partitionBy("dt")` on the sink gives the reference's Hive-style
  * layout (R4/R5) with partition pruning for downstream readers. Watermarks
  * bound state size — without one, window state grows without limit at
  * 100 TB/day (s_tumbling/s_sliding below run unbounded-state complete mode
  * only because input is bounded; s_session/s_watermark_late show the
  * watermarked form).
  */
object Streaming extends QueryModule {

  /** R1 stand-in: unbounded reader over the events fixture. The file
    * stream needs an explicit schema; infer it from a batch footer read
    * of the same file (driver-side, one footer) so the stream handles
    * every ts layout the fixtures have shipped with — TIMESTAMP(NANOS)
    * read as raw long via nanosAsLong, TIMESTAMP_NTZ micros, or plain
    * TIMESTAMP — normalized identically to the batch path
    * (core.Tables.normalizeEventsTs), so streaming and batch twins see
    * identical values.
    */
  def streamEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.core.Tables.normalizeEventsTs(
      graft.core.Tables.streamTable(spark, sfDir, "events"))
  }

  /** State partitioning is a deployment knob, not a semantic: tiny
    * fixtures want few state stores (the per-partition fixed cost
    * dominates; [[BoundedStream.SmallStateWidth]]), scale fixtures want the
    * session's full parallelism (sequential state ops dominate). Sized
    * from the events file so the same entry is honest at both — measured
    * on s_session at 20x: 8 partitions 64 s, 32 partitions restore the
    * scan-bound cost.
    */
  private def statePartitionsFor(spark: SparkSession, sfDir: String): Int = {
    val f = new java.io.File(s"$sfDir/events.parquet")
    if (f.isFile && f.length() > 5L * 1024 * 1024) spark.sparkContext.defaultParallelism
    else BoundedStream.SmallStateWidth
  }

  // ---- R1→R6: the reference pipeline, end to end ------------------------

  /** Kafka-like source → predicate on a JSON payload field (R2 shape) →
    * event-time `dt` bucketing (R4) → `partitionBy("dt")` rolling file sink
    * with checkpoint (R5/R6) → re-read the produced layout and count per
    * partition. The returned per-dt counts are exactly what a Hive-side
    * reader of the sink directory sees, so the DuckDB oracle checks the
    * whole pipeline including the partitioned write.
    */
  private def pipeline(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.JsonGet.register(spark)
    BoundedStream.dtCounts(streamEvents(spark, sfDir)
      .filter(expr("json_get(props, 'k')").isNotNull)
      .withColumn("dt", Cdc.eventTimeDt((unix_micros(col("ts")) / lit(1000L)).cast(LongType)))
      .select(col("event_id"), col("user_id"), col("event_type"), col("dt")))
  }

  /** One-time per-fixture synthesis of the Canal "topic" (marker-gated
    * under /tmp like the Derby/index seeds): the text-file stand-in for
    * the reference's Kafka topic (R1), synthesized deterministically from
    * the events fixture (error-type rows become DDL envelopes so the
    * filter has real work). r18: through r17 every s_cdc_canal run
    * re-wrote this inside its timed region — but production's topic is a
    * broker that exists BEFORE the pipeline runs; paying to create the
    * entry's own input every run billed input synthesis to the operator.
    * Same disclosed untimed one-time-input economics as q_jdbc_snapshot's
    * embedded-Derby import (the R15 endpoint stand-in), declared as
    * [[CanalTopicSeed]]. Seed tag: core.Tables.fixtureTag over events.
    */
  private def ensureCanalTopic(spark: SparkSession, sfDir: String): String = {
    graft.core.Warehouse.ensureSeed(new java.io.File("/tmp/graft_canal_topic",
        graft.core.Tables.fixtureTag("v1", sfDir, "events"))) { dir =>
      graft.core.Tables(spark, sfDir, "events")
        .select(to_json(struct(
          col("event_id").as("id"),
          (unix_micros(col("ts")) / lit(1000L)).cast(LongType).as("es"),
          ((unix_micros(col("ts")) / lit(1000L)).cast(LongType) + lit(1000L)).as("ts"),
          when(col("event_type") === "error", "CREATE").otherwise("INSERT").as("type"),
          when(col("event_type") === "error", "true").otherwise("false").as("isDdl"),
          lit("qfbap_ods").as("database"),
          lit("events").as("table"),
          array(map(
            lit("user_id"), col("user_id").cast(StringType),
            lit("event_type"), col("event_type"),
            lit("value"), col("value").cast(StringType))).as("data"))).as("value"))
        .write.mode("overwrite").text(dir)
    }
  }

  val CanalTopicSeed: Seed = Seed("canal topic", ensureCanalTopic)

  /** The reference's EXACT loop on the EXACT envelope (HdfsSink.java:55-125):
    * Canal binlog JSON strings → parse envelope → drop isDdl=true (R2) →
    * explode `data` + delimited flatten (R3) → event-time `dt` from `es`
    * millis (R4) → partitioned file sink + checkpoint (R5/R6).
    *
    * The "topic" is the one-time per-fixture text-file stream of Canal
    * JSON ([[ensureCanalTopic]]); the oracle counts what must survive per
    * partition, so envelope parse, filter, flatten fan-out and the
    * partitioned write are all under the driver's differential check.
    */
  private def cdcCanal(spark: SparkSession, sfDir: String): DataFrame = {
    val parsed = Cdc.parseEnvelope(spark.readStream.schema(
      StructType(Seq(StructField("value", StringType)))).text(ensureCanalTopic(spark, sfDir)))
    BoundedStream.dtCounts(Cdc.flatten(Cdc.ddlFilter(parsed), Seq("user_id", "event_type", "value"))
      .withColumn("dt", Cdc.eventTimeDt(col("es"))))
  }

  // ---- Windowed aggregation (R11 generalized to event-time windows) -----

  private def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("n"), col("sum_value"))

  private val tumblingOracle = """
      SELECT date_trunc('hour', ts) AS hour_start,
             count(*) AS n,
             round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""

  private def tumblingBatch(spark: SparkSession, sfDir: String): DataFrame =
    tumblingAgg(graft.core.Tables(spark, sfDir, "events")).orderBy("hour_start")

  /** Streaming twin of q_tumbling_batch — complete mode over the bounded
    * stream, same oracle: the driver itself verifies stream==batch.
    */
  private def tumblingStream(spark: SparkSession, sfDir: String): DataFrame =
    BoundedStream.toMemory(tumblingAgg(streamEvents(spark, sfDir)), "complete")
      .orderBy("hour_start")

  /** Sliding window: 2-hour windows every hour — each event lands in two
    * windows. The oracle expands the two window-starts per event.
    */
  private def slidingStream(spark: SparkSession, sfDir: String): DataFrame =
    BoundedStream.toMemory(
      streamEvents(spark, sfDir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n")),
      "complete")
      .select(col("window.start").as("window_start"), col("n"))
      .orderBy("window_start")

  // ---- Session windows --------------------------------------------------

  private def sessionBatch(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.Tables(spark, sfDir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  /** Streaming session windows require a watermark; append mode emits a
    * session once the watermark passes its close. On bounded input the
    * final watermark holds back the last session(s) per key; the oracle
    * (r9) applies the same watermark cutoff to the batch sessionization.
    */
  private def sessionStream(spark: SparkSession, sfDir: String): DataFrame =
    BoundedStream.toMemory(
      streamEvents(spark, sfDir)
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events")),
      "append", statePartitionsFor(spark, sfDir))
      .select(col("user_id"), col("sw.start").as("session_start"), col("n_events"))
      .orderBy("user_id", "session_start")

  // ---- Watermark / late data (R4's dead-letter story) -------------------

  /** Two-run file stream proving late-data drop ACROSS A RESTART: run 1
    * (AvailableNow) processes batch 1 and checkpoints a watermark past
    * 11:50; run 2 restarts from the same checkpoint, replays a 10:05 event
    * (late beyond the 10-minute delay) plus a fresh one, and the late row
    * must NOT appear in any window count. Restart-based (rather than one
    * long-lived ProcessingTime query) for two reasons: it additionally
    * proves the watermark survives the checkpoint (R6), and it removes the
    * wall-clock trigger polling that made this entry's bench time track
    * host latency instead of compute. Fixed synthetic rows (not sfDir
    * tables); the oracle reads them from a tap, and the exact output is
    * asserted in StreamingSpec.
    */
  private def watermarkLate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val in = TempDirs.create("graft_late_in")
    val out = TempDirs.create("graft_late_out")
    val ckpt = TempDirs.create("graft_ckpt")
    def write(batch: Seq[(String, Double)], file: String): Unit =
      batch.toDF("ts_s", "value")
        .select(col("ts_s").cast(TimestampType).as("ts"), col("value"))
        .coalesce(1).write.mode("append").parquet(s"$in/$file")
    write(Seq(("2024-01-01 10:00:00", 1.0), ("2024-01-01 10:20:00", 1.0),
      ("2024-01-01 12:00:00", 1.0)), "b1")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("ts", TimestampType), StructField("value", DoubleType))))
      .parquet(s"$in/*")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    def runOnce(): Unit =
      BoundedStream.eachBatch(stream, ckpt, "update", width = Some(4)) { (batch, _) =>
        batch.select(col("window.start").as("window_start"), col("n"))
          .write.mode("append").parquet(out)
      }
    runOnce() // batch 1: watermark advances to 11:50, committed to ckpt
    write(Seq(("2024-01-01 10:05:00", 99.0), ("2024-01-01 12:30:00", 1.0)), "b2")
    runOnce() // restart from ckpt: 10:05 is late vs the restored watermark -> dropped
    // Tap the batch-tagged input — read back from the SAME parquet files
    // the stream consumed — so DuckDB can recompute the watermark RULE
    // from first principles: watermark = max(batch-1 ts) − the 10-minute
    // delay; a batch-2 row survives iff its window END exceeds that
    // restored watermark. This upgrades the entry from rows-only to a
    // full oracle (the StreamingSpec exact-output pin stays as the
    // restart-mechanics witness).
    graft.ext.OracleTap(spark, "watermark_late_input",
      spark.read.parquet(s"$in/b1").withColumn("batch", lit(1))
        .unionByName(spark.read.parquet(s"$in/b2").withColumn("batch", lit(2))))
    spark.read.parquet(out)
      .groupBy(col("window_start"))
      .agg(max(col("n")).as("n")) // update mode re-emits; keep latest count
      .orderBy("window_start")
  }

  // ---- Streaming last-state upsert (R11→R14 moved to streaming) ---------

  /** ts-aware FULL OUTER upsert: the delta row wins only when its event
    * time is newer than the snapshot's — or equal with a winning
    * `tiebreak` — so replayed or out-of-order batches cannot regress a
    * key (strictly stronger than the reference's unconditional COALESCE,
    * which assumes delta ⊇ newer). The (ts, tiebreak) ordering mirrors
    * latestState's (ts DESC, tiebreak DESC) exactly; without the
    * tiebreak, equal-ts rows for one key split across micro-batches could
    * let a later batch's LOWER-tiebreak row overwrite a higher one and
    * diverge from the batch oracle.
    */
  def tsAwareMerge(snap: DataFrame, delta: DataFrame, key: String, ts: String,
      tiebreak: String, cols: Seq[String]): DataFrame = {
    val t1 = snap.alias("t1")
    val t2 = delta.alias("t2")
    val deltaWins = col(s"t2.$ts").isNotNull &&
      (col(s"t1.$ts").isNull ||
        col(s"t2.$ts") > col(s"t1.$ts") ||
        (col(s"t2.$ts") === col(s"t1.$ts") &&
          col(s"t2.$tiebreak") >= col(s"t1.$tiebreak")))
    t1.join(t2, col(s"t1.$key") === col(s"t2.$key"), "full_outer")
      .select(cols.map(c =>
        when(deltaWins, col(s"t2.$c")).otherwise(col(s"t1.$c")).as(c)): _*)
  }

  /** The reference's daily merge restore as a continuous pipeline: each
    * micro-batch is compacted to latest-state per key (R11) and upserted
    * into a parquet snapshot via a ts-aware FULL OUTER merge (R12-R14 —
    * newer event time wins, so out-of-order batches cannot regress a key).
    * On the bounded fixture the final snapshot equals the batch
    * q_latest_state result, which is this entry's oracle.
    */
  private def dedupStateful(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("user_id", "event_id", "event_type", "value", "ts")
    BoundedStream.foldSnapshots(streamEvents(spark, sfDir).select(cols.map(col): _*))(
      Cdc.latestState(_, "user_id", "ts", "event_id"))(
      tsAwareMerge(_, _, "user_id", "ts", "event_id", cols))
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), col("ts"))
      .orderBy("user_id")
  }

  /** Streaming materialized-view maintenance — q_mv_refresh as a
    * continuous pipeline: each micro-batch partial-aggregates ONLY its own
    * rows, then merges into the served MV by key (count/sum merge; any
    * ratio derives at serve time). The MV table is the only state, its
    * size is O(groups) regardless of stream volume, and history is never
    * re-scanned — the foreachBatch shape every streaming dashboard table
    * uses. Oracle = the full recompute over all events, which the
    * incremental merge must equal exactly.
    */
  private def mvRefreshStream(spark: SparkSession, sfDir: String): DataFrame =
    BoundedStream.foldSnapshots(
        streamEvents(spark, sfDir).select(col("event_type"), col("value"), col("ts")))(
      _.withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
        .groupBy("dt", "event_type")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value")))(
      _.unionByName(_)
        .groupBy("dt", "event_type")
        .agg(sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value")))
      .select(col("dt"), col("event_type"), col("n"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("dt", "event_type")

  /** Streaming data-quality monitor — the continuous leg of the
    * q_dq_rules suite (every index family here has a streaming leg;
    * the audit family gets one too): each micro-batch folds its
    * row-local rule verdicts in ONE conditional-aggregate pass (the
    * q_dq_rules shape — adding a rule costs nothing), and foreachBatch
    * merges the per-rule (rows, violations) counters into the served
    * verdict table. State is O(rules) regardless of stream volume,
    * history is never re-scanned, and the counters are exactly
    * mergeable — so the cumulative verdict equals the full batch
    * recompute, which is the oracle. Output columns match q_dq_rules
    * (n_violations, floor-6dp pass_ratio, passed).
    */
  private def dqMonitorStream(spark: SparkSession, sfDir: String): DataFrame = {
    def verdicts(df: DataFrame): DataFrame = {
      def rule(name: String, viol: Column): Column =
        struct(lit(name).as("rule"), viol.as("v"))
      df.agg(
          count(lit(1)).as("n"),
          sum(when(col("props").isNull, 1L).otherwise(0L)).as("v_props"),
          sum(when(col("event_type").isin(
            "click", "view", "purchase", "signup", "error"), 0L).otherwise(1L)).as("v_type"),
          sum(when(col("value").between(0.0, 100.0), 0L).otherwise(1L)).as("v_val"),
          sum(when(col("user_id") >= 0, 0L).otherwise(1L)).as("v_uid"))
        .select(explode(array(
          rule("accepted_values:event_type", col("v_type")),
          rule("completeness:props", col("v_props")),
          rule("nonneg:user_id", col("v_uid")),
          rule("range:value[0,100]", col("v_val")))).as("r"), col("n"))
        .select(col("r.rule").as("rule"), col("n"), col("r.v").as("v"))
    }
    BoundedStream.foldSnapshots(streamEvents(spark, sfDir)
        .select(col("event_type"), col("value"), col("user_id"), col("props")))(verdicts)(
      _.unionByName(_)
        .groupBy("rule")
        .agg(sum(col("n")).as("n"), sum(col("v")).as("v")))
      .select(col("rule"), col("v").as("n_violations"),
        (floor((col("n") - col("v")) / col("n") * 1e6) / 1e6).as("pass_ratio"),
        (col("v") === 0).as("passed"))
      .orderBy("rule")
  }

  /** Streaming drift monitor — the continuous leg of q_dq_drift (the
    * audit family's second streaming member): each micro-batch folds its
    * rows into exact (event_type, bin, ca, cb) period bin counts via the
    * SAME one-pass conditional aggregate as the batch entry
    * ([[graft.ops.Quality.driftCounts]]), and foreachBatch merges the
    * counters into the served state. State is O(types·bins) regardless
    * of stream volume, history is never re-scanned, and counts are
    * exactly mergeable — so the final smoothed PSI + verdict table
    * ([[graft.ops.Quality.driftPsi]]) equals the full batch recompute,
    * which is the oracle (identical to q_dq_drift's).
    */
  private def driftMonitorStream(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Quality.driftPsi(spark, BoundedStream.foldSnapshots(
        streamEvents(spark, sfDir).select(col("event_type"), col("value"), col("ts")))(
      graft.ops.Quality.driftCounts)(
      _.unionByName(_)
        .groupBy("event_type", "bin")
        .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))))

  /** Streaming record linkage — the continuous leg of q_fuzzy_join:
    * dirty records ARRIVE as a stream and each micro-batch matches
    * against the STATIC clean reference via the same blocked equi-join +
    * bounded levenshtein verify (graft.ext.Linkage). Matching is
    * per-record and STATELESS (the stream-static s_join_static shape —
    * the reference broadcasts per batch, nothing buffers in the state
    * store), so the accumulated link table equals the batch join exactly
    * — which is the oracle, unchanged from q_fuzzy_join. At production
    * volume this is the dedup-on-arrival front door of a master-data
    * table: state ZERO regardless of stream volume, reference refresh =
    * the next micro-batch's re-read.
    */
  private def linkageIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ext.Linkage
    val cleanBase = graft.core.Tables(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    val stream = graft.core.Tables.streamTable(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    val dirty0 = Linkage.dirtyBatch(stream)
    // Same layout-independence move as the batch entry (pinned count —
    // see Linkage.linkPass: advisory repartition gets AQE-coalesced
    // back to one task): per-batch verify parallelism comes from the
    // block key, not the file source's split count. Both blocking
    // passes run per micro-batch; a clean record matches through both,
    // so the union dedups on the full link row — per-record stateless
    // matching plus a streaming dropDuplicates whose state is the
    // output-sized link set (each supplier streams once, so a pair is
    // only ever deduped within its own micro-batch).
    def pass(key: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
      val clean = cleanBase.withColumn("bk", key(col("s_name")))
      val dirty = dirty0.withColumn("bk", key(col("nm")))
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("bk"))
      dirty.join(broadcast(clean), "bk")
        .select(col("s_suppkey"), col("r_id"),
          levenshtein(col("s_name"), col("nm")).cast("long").as("lev"))
        .filter(col("lev") <= Linkage.MaxEdit)
    }
    val links = pass(Linkage.prefixKey).unionByName(pass(Linkage.suffixKey))
      .dropDuplicates("s_suppkey", "r_id", "lev")
    BoundedStream.toMemory(links, "append")
      .orderBy("s_suppkey", "r_id")
  }

  // ---- Arbitrary stateful processing (mapGroupsWithState) ---------------

  /** Streaming SCD Type-2 — live historization of the change stream via
    * `flatMapGroupsWithState` (the batch twin is Cdc.scd2Intervals): state
    * per entity is the one OPEN version; each arriving version closes its
    * predecessor (emitting the finished [valid_from, valid_to) row) and
    * becomes the new open row, which is also emitted with a NULL valid_to.
    * Rows are folded in event-time (ts, event_id) order inside each batch
    * — the same sort key as the batch window — and the memory-sink fold's
    * max(valid_to) lets a later batch's close supersede the earlier open
    * emission. State size is O(entities) — one open row each — never the
    * history. Oracle: identical to q_scd2_intervals (full recompute).
    */
  private def scd2Stream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val events = streamEvents(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), col("ts"))
      .as[(Long, Long, String, Double, java.sql.Timestamp)]
    val emitted = events.groupByKey(_._1)
      .flatMapGroupsWithState[
        (Long, String, Double, java.sql.Timestamp),
        (Long, Long, String, Double, java.sql.Timestamp, Option[java.sql.Timestamp])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val sorted = rows.toSeq.sortWith { (a, b) =>
            a._5.before(b._5) || (a._5.equals(b._5) && a._2 < b._2)
          }
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, String, Double, java.sql.Timestamp, Option[java.sql.Timestamp])]
          var open: Option[(Long, String, Double, java.sql.Timestamp)] = state.getOption
          sorted.foreach { r =>
            open.foreach(o => out += ((user, o._1, o._2, o._3, o._4, Some(r._5))))
            open = Some((r._2, r._3, r._4, r._5))
          }
          open.foreach { o =>
            state.update(o)
            out += ((user, o._1, o._2, o._3, o._4, None))
          }
          out.iterator
      }
      .toDF("user_id", "event_id", "event_type", "value", "valid_from", "valid_to")
    BoundedStream.toMemory(emitted, "update", statePartitionsFor(spark, sfDir))
      .groupBy(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("valid_from"))
      .agg(max(col("valid_to")).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** Streaming funnel — CEP-style ordered-sequence detection as keyed
    * state (the Flink-CEP-shaped capability, re-expressed on
    * `mapGroupsWithState`): per user, the state is the four first-qualify
    * timestamps of signup→view→click→purchase; an arriving event advances
    * the earliest unfilled step it qualifies for (strictly after the
    * previous step, within 24 h of it, in exact epoch-micros arithmetic).
    * Events fold in (ts, event_id) order within each micro-batch, and the
    * bounded file source delivers event time non-decreasing across
    * batches, so first-qualify == min-qualify — the batch q_funnel's
    * semantics, which is also this entry's oracle. State per user is four
    * stamps — O(users), never an event buffer; max_step is monotone, so
    * the update-mode re-emission fold is a max().
    */
  private def funnelStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val steps = Seq("signup", "view", "click", "purchase")
    val stepIdx = steps.zipWithIndex.toMap
    val dayMicros = 24L * 3600L * 1000000L
    def micros(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val events = streamEvents(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isInCollection(steps))
      .as[(Long, Long, String, java.sql.Timestamp)]
    // State is four epoch-micros stamps (0 = unfilled): exact fixture
    // precision in a plainly-encodable product (getTime millis would
    // truncate; an object-array state has no implicit encoder).
    val updated = events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long, Long), (Long, Int)](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val st = state.getOption
            .map(s => Array(s._1, s._2, s._3, s._4))
            .getOrElse(Array.fill(4)(0L))
          val sorted = rows.toSeq.sortWith { (a, b) =>
            a._4.before(b._4) || (a._4.equals(b._4) && a._2 < b._2)
          }
          sorted.foreach { r =>
            val i = stepIdx(r._3)
            val t = micros(r._4)
            if (st(i) == 0L) {
              if (i == 0) st(0) = t
              else if (st(i - 1) != 0L &&
                t > st(i - 1) && t <= st(i - 1) + dayMicros) st(i) = t
            }
          }
          state.update((st(0), st(1), st(2), st(3)))
          (user, st.takeWhile(_ != 0L).length)
      }
      .toDF("user_id", "max_step")
    val perUser = BoundedStream.toMemory(updated, "update", statePartitionsFor(spark, sfDir))
      .groupBy(col("user_id")).agg(max(col("max_step")).as("max_step"))
    steps.zipWithIndex.map { case (step, i) =>
      perUser.filter(col("max_step") >= i + 1)
        .agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(step).as("event_type"), col("n_users"))
    }.reduce(_.unionAll(_)).orderBy("step")
  }

  /** Per-key running state via `KeyValueGroupedDataset.mapGroupsWithState`
    * — the arbitrary-state API (the declared surface SURVEY §2.2 maps the
    * reference's keyed-state story to; every other s_* entry uses either
    * built-in window state or foreachBatch). State per user: event count +
    * latest ts. On bounded input the final state equals the batch
    * GROUP BY, which is this entry's oracle. At scale state lives in the
    * state store partitioned by key — one shuffle on user_id per batch,
    * state size O(distinct keys).
    */
  private def statefulCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val events = streamEvents(spark, sfDir)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    // State carries java.sql.Timestamp, not epoch millis: getTime would
    // silently truncate the fixture's microsecond precision and diverge
    // from the batch oracle.
    val updated = events
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, java.sql.Timestamp), (Long, Long, java.sql.Timestamp)](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          var (n, maxTs) = state.getOption.getOrElse((0L, null: java.sql.Timestamp))
          rows.foreach { r =>
            n += 1
            if (maxTs == null || r._2.after(maxTs)) maxTs = r._2
          }
          state.update((n, maxTs))
          (user, n, maxTs)
      }
      .toDF("user_id", "n_events", "last_ts")
    // Update mode re-emits a user's state every micro-batch; the final
    // state has the largest n (monotone), so max() folds re-emissions.
    BoundedStream.toMemory(updated, "update", statePartitionsFor(spark, sfDir))
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"), max(col("last_ts")).as("last_ts"))
      .orderBy("user_id")
  }

  // ---- Streaming dedup within watermark ---------------------------------

  /** At-least-once ingest made effectively-once: the same source read
    * twice and unioned (the canonical duplicated-delivery shape — a Kafka
    * producer retry, a replayed partition), then
    * `dropDuplicatesWithinWatermark(event_id)` keeps one copy of each id.
    * Unlike plain dropDuplicates (whose id state grows forever), the
    * watermark bounds state: an id can be evicted once no duplicate can
    * still arrive — O(rate × delay) state at any corpus size. The deduped
    * stream must equal the original exactly-once input, which the batch
    * oracle checks via per-type counts.
    */
  private def dedupWithinWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    def side() = streamEvents(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("ts"))
    val doubled = side().union(side())
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    // Dedup is a stateful FILTER, not an aggregation: every surviving row
    // emits in the micro-batch it arrives in, so the trailing no-data
    // micro-batch (watermark advance → state EVICTION only) adds a full
    // state-store round without changing one output row. Off for the
    // bounded run; a continuous deployment keeps it on so idle streams
    // still evict. (The append-mode AGGREGATIONS — session/tumbling —
    // need that batch to FLUSH results and keep it on.)
    SessionConf.scoped(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      BoundedStream.toMemory(doubled, "append", statePartitionsFor(spark, sfDir))
    }
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  // ---- Stream-stream interval join --------------------------------------

  /** Watermarked stream-stream inner join: clicks join the same user's
    * views from the preceding hour (identical semantics to the batch
    * q_interval_join, which is also this entry's oracle). Both sides carry
    * a watermark and the join condition bounds event time on both sides —
    * exactly what Structured Streaming needs to evict buffered rows: a
    * view can be dropped from state once the click watermark passes
    * view_ts + 60 min, so state is O(rate × window), not O(stream). At
    * scale both sides shuffle on user_id once and the join runs inside the
    * keyed state store.
    */
  private def intervalJoinStream(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = streamEvents(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val views = streamEvents(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val joined = clicks.join(views,
        expr("user_id = v_user AND view_ts <= click_ts AND view_ts > click_ts - INTERVAL 60 MINUTE"))
      .select(col("user_id"), col("click_id"), col("view_id"), col("click_ts"), col("view_ts"))
    // INNER stream-stream join: matches emit in the data micro-batch that
    // completes them; the trailing no-data batch only evicts buffered
    // state (it emits nothing), so in a bounded run it is pure per-entry
    // floor. Off here; the LEFT OUTER twin below keeps it on — there the
    // no-data batch is what FLUSHES the null-extended unmatched tail.
    SessionConf.scoped(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      BoundedStream.toMemory(joined, "append", statePartitionsFor(spark, sfDir))
    }
      .orderBy("user_id", "click_id", "view_id")
  }

  /** Stream-stream LEFT OUTER interval join — the null-emission corner of
    * the state-store join: every view pairs with the same user's clicks
    * in the following hour, and a view with NO such click must still
    * emit (null-extended) — but only once the click-side watermark
    * proves no future click can match (wm > view_ts + 60 min). Rows
    * younger than that stay in state: emitting them would be a
    * correctness bug if a matching click arrived late. The final
    * no-data micro-batch (on by default) advances the watermark after
    * the last data batch, which is what flushes the eligible unmatched
    * tail in a bounded run. The oracle encodes exactly this split: all
    * matched pairs, plus unmatched views older than
    * max(click_ts) - 2 h (the final watermark) - 60 min.
    */
  private def leftIntervalJoinStream(spark: SparkSession, sfDir: String): DataFrame = {
    val views = streamEvents(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val clicks = streamEvents(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val joined = views.join(clicks,
        expr("v_user = user_id AND click_ts >= view_ts AND click_ts < view_ts + INTERVAL 60 MINUTE"),
        "leftOuter")
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
    BoundedStream.toMemory(joined, "append", statePartitionsFor(spark, sfDir))
      .orderBy("user_id", "view_id", "click_id")
  }

  /** Stream-static join — the enrichment every CDC/event pipeline runs:
    * the unbounded event stream joins a STATIC dimension (customer) that
    * is re-read per micro-batch, broadcast, and never held in the state
    * store (stateless join — unlike the stream-stream s_join_interval
    * whose both sides buffer under watermarks). The joined rows land in
    * the sink; the per-segment rollup over the sink is what the oracle
    * checks, so the join itself is fully correctness-gated. At 100 TB/day
    * the static side stays a broadcast (dims are small) and state is
    * ZERO regardless of stream volume.
    */
  private def joinStatic(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = graft.core.Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = streamEvents(spark, sfDir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("c_mktsegment"), col("value"))
    BoundedStream.toMemory(joined, "append")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  override val defs: Map[String, QueryDef] = Map(
    "s_join_static" -> QueryDef(joinStatic, Some("""
      SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),
    "s_dq_monitor" -> QueryDef(dqMonitorStream, Some("""
      WITH n AS (SELECT count(*)::BIGINT AS n FROM events),
      v AS (
        SELECT 'accepted_values:event_type' AS rule,
               count(*) FILTER ((event_type IN ('click','view','purchase','signup','error')) IS NOT TRUE)::BIGINT AS v
        FROM events
        UNION ALL
        SELECT 'completeness:props',
               count(*) FILTER (props IS NULL) FROM events
        UNION ALL
        SELECT 'nonneg:user_id',
               count(*) FILTER ((user_id >= 0) IS NOT TRUE) FROM events
        UNION ALL
        SELECT 'range:value[0,100]',
               count(*) FILTER ((value BETWEEN 0 AND 100) IS NOT TRUE) FROM events)
      SELECT v.rule, v.v AS n_violations,
             floor((n.n - v.v) / n.n * 1e6) / 1e6 AS pass_ratio,
             v.v = 0 AS passed
      FROM v, n ORDER BY rule""")),
    "s_drift_monitor" -> QueryDef(driftMonitorStream, Some(graft.ops.Quality.driftOracle)),
    "s_linkage_ingest" -> QueryDef(linkageIngest, Some(graft.ext.Linkage.fuzzyOracle)),
    "s_mv_refresh" -> QueryDef(mvRefreshStream, Some("""
      SELECT strftime(ts, '%Y%m%d') AS dt, event_type, count(*) AS n,
             round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),
    "s_dedup_within_wm" -> QueryDef(dedupWithinWatermark, Some("""
      SELECT event_type, count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")),
    "s_join_interval" -> QueryDef(intervalJoinStream, Some(graft.ops.Joins.intervalOracle)),
    "s_join_left_interval" -> QueryDef(leftIntervalJoinStream, Some("""
      WITH v AS (SELECT user_id AS v_user, event_id AS view_id, ts AS view_ts
                 FROM events WHERE event_type = 'view'),
      c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
            FROM events WHERE event_type = 'click'),
      wm AS (SELECT max(click_ts) - INTERVAL 2 HOUR AS w FROM c),
      m AS (SELECT v.v_user AS user_id, v.view_id, c.click_id, v.view_ts, c.click_ts
            FROM v JOIN c ON v.v_user = c.user_id
              AND c.click_ts >= v.view_ts
              AND c.click_ts < v.view_ts + INTERVAL 60 MINUTE),
      u AS (SELECT v.v_user AS user_id, v.view_id, CAST(NULL AS BIGINT) AS click_id,
                   v.view_ts, CAST(NULL AS TIMESTAMP) AS click_ts
            FROM v, wm
            WHERE v.view_ts + INTERVAL 60 MINUTE <= wm.w
              AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = v.v_user
                AND c.click_ts >= v.view_ts
                AND c.click_ts < v.view_ts + INTERVAL 60 MINUTE))
      SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM u)
      ORDER BY user_id, view_id, click_id""")),
    "s_scd2" -> QueryDef(scd2Stream, Some("""
      SELECT user_id, event_id, event_type, round(value, 2) AS value,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      FROM events
      ORDER BY user_id, valid_from, event_id""")),
    "s_funnel" -> QueryDef(funnelStream, Some(graft.ops.Behavior.funnelOracle)),
    "s_stateful_count" -> QueryDef(statefulCount, Some("""
      SELECT user_id, count(*) AS n_events, max(ts) AS last_ts
      FROM events GROUP BY user_id ORDER BY user_id""")),
    "s_pipeline" -> QueryDef(pipeline, Some("""
      SELECT strftime(ts, '%Y%m%d') AS dt, count(*) AS n
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
      GROUP BY 1 ORDER BY 1""")),
    "s_cdc_canal" -> QueryDef(cdcCanal, Some("""
      SELECT strftime(ts, '%Y%m%d') AS dt, count(*) AS n
      FROM events
      WHERE event_type <> 'error'
      GROUP BY 1 ORDER BY 1"""), Seq(CanalTopicSeed)),
    "q_tumbling_batch" -> QueryDef(tumblingBatch, Some(tumblingOracle)),
    "s_tumbling" -> QueryDef(tumblingStream, Some(tumblingOracle)),
    "s_sliding" -> QueryDef(slidingStream, Some("""
      WITH w AS (
        SELECT date_trunc('hour', ts) AS window_start FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events)
      SELECT window_start, count(*) AS n FROM w GROUP BY 1 ORDER BY 1""")),
    "q_session_batch" -> QueryDef(sessionBatch, Some("""
      WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g)
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM s GROUP BY user_id, sid
      ORDER BY user_id, session_start""")),
    // Full oracle (r9): append-mode session_window semantics are exactly
    // reproducible in SQL — gaps-and-islands sessionization (30-minute
    // gap) PLUS the watermark cutoff: only sessions whose end
    // (last event + gap) has fallen at or below the final watermark
    // (global max ts − 30 min) are ever emitted; tail sessions stay in
    // state, exactly what StreamingSpec pins. Boundary ties
    // (a session ending exactly ON the watermark) are measure-zero in
    // the µs-precision fixtures, so the <= comparison is unambiguous.
    "s_session" -> QueryDef(sessionStream, Some("""
      WITH e AS (SELECT user_id, ts FROM events),
      marks AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marks),
      agg AS (SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
                     count(*) AS n_events
              FROM sess GROUP BY user_id, sid),
      wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM e)
      SELECT user_id, session_start, n_events
      FROM agg, wm WHERE last_ts + INTERVAL 30 MINUTE <= w
      ORDER BY user_id, session_start""")),
    // Full oracle since r14: the input tap (written by the query from the
    // same files the stream reads) lets DuckDB re-derive the late-drop
    // decision itself — watermark = max(batch-1 ts) − 10 min, keep a
    // batch-2 row iff its 1-hour window end exceeds it — instead of
    // trusting the engine's drop. The update-mode re-emissions collapse
    // to the final per-window count, which is exactly the count of
    // accepted rows per window.
    "s_watermark_late" -> QueryDef(watermarkLate, Some(s"""
      WITH inp AS (
        SELECT ts, batch
        FROM read_parquet('${graft.ext.OracleTap.Root}/watermark_late_input/*.parquet')),
      wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM inp WHERE batch = 1),
      kept AS (
        SELECT date_trunc('hour', ts) AS window_start FROM inp
        WHERE batch = 1
           OR date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm))
      SELECT window_start, count(*)::BIGINT AS n
      FROM kept GROUP BY window_start ORDER BY window_start""")),
    "s_dedup_stateful" -> QueryDef(dedupStateful, Some("""
      SELECT user_id, event_id, event_type, round(value, 2) AS value, ts
      FROM (
        SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events e) WHERE rn = 1
      ORDER BY user_id""")))
}
