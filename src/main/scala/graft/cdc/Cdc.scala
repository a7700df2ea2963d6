package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, QueryModule, Tables, Versions}

/** The reference's CDC spine, Spark-first.
  *
  * Reference semantics covered here:
  *  - Canal binlog JSON envelope parse + DDL filter
  *    (reference HdfsSink.java:59-66)
  *  - envelope flatten to a delimited record (HdfsSink.java:67-104)
  *  - event-time `dt=yyyyMMdd` bucketing with the `00000000` dead-letter
  *    fallback (EventTimeBucketAssigner.java:21-43)
  *  - last-writer-wins compaction (`row_number` desc, keep 1; README.md:238-251)
  *  - FULL OUTER JOIN + COALESCE snapshot merge (README.md:222-252)
  *
  * All of it is Catalyst built-ins: `from_json`, `explode`, window
  * functions, joins. Partition pruning on `dt` and join selection come
  * free from Catalyst. Predicate pushdown needs one guard: a filter pushed
  * below an expensive projection evaluates that projection again, so the
  * envelope parse is a one-row generator that no filter is pushed below
  * (see [[parseEnvelope]]).
  */
object Cdc extends QueryModule {

  /** Canal envelope schema (HdfsSink.java:73-97). The payload rows are kept
    * as `MapType(String, String)` to preserve the reference's
    * schema-agnostic handling; a fixed-schema table would use a StructType
    * here instead.
    */
  val canalSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("es", LongType),
    StructField("ts", LongType),
    StructField("type", StringType),
    StructField("isDdl", StringType),
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("data", ArrayType(MapType(StringType, StringType)))))

  /** Parse a DataFrame of raw Canal JSON strings (column `value`) into the
    * envelope columns. Mirrors the fastjson parse at HdfsSink.java:73.
    *
    * The parse is a one-row generator (`inline` of a one-element array),
    * not a projection: Catalyst pushes filters through a `Project` by
    * inlining its expressions, so [[ddlFilter]]'s `isDdl` test and the
    * `size(data) > 0` filter `InferFiltersFromGenerate` adds for
    * [[flatten]]'s explode would each run `from_json` again below the
    * parse — three parses per envelope. No filter is pushed below a
    * `Generate` that produces the column it reads, so each envelope is
    * parsed once (CdcSpec pins one `JsonToStructs` in the plan). It also
    * makes [[ddlFilter]] test the `isDdl` this parse returns: the pushed,
    * schema-pruned parse read none from an envelope truncated inside
    * `data`, so such a row was dropped although it parses as "false".
    */
  def parseEnvelope(raw: DataFrame): DataFrame =
    raw.select(inline(array(from_json(col("value"), canalSchema))))

  /** Drop DDL events — exact semantics of the reference filter
    * (HdfsSink.java:59-66): keep records whose `isDdl` field equals the
    * string "false".
    */
  def ddlFilter(parsed: DataFrame): DataFrame =
    parsed.filter(col("isDdl") === "false")

  /** Flatten the envelope to one delimited record per payload row
    * (HdfsSink.java:79-101): explode the `data` array, then emit
    * `id,es,ts,type,<payload values in column order>`.
    *
    * Divergence from the reference (documented, SURVEY.md §7): the
    * reference relies on JSON key order (fastjson OrderedField,
    * HdfsSink.java:63) for CSV column order. Spark's MapType does not
    * guarantee order, so the projection order is fixed by the caller's
    * `payloadCols` — schema-driven, not map-iteration-driven.
    */
  def flatten(parsed: DataFrame, payloadCols: Seq[String]): DataFrame = {
    val row = parsed.withColumn("row", explode(col("data")))
    val payload = payloadCols.map(c => element_at(col("row"), c))
    row.select(
      concat_ws(",", Seq(col("id"), col("es"), col("ts"), col("type")) ++ payload: _*)
        .as("line"),
      col("id"), col("es"), col("ts"), col("type"))
  }

  /** `dt=yyyyMMdd` from epoch-millis event time, with the reference's
    * dead-letter bucket `00000000` for unparsable values
    * (EventTimeBucketAssigner.java:25-27,40-42). `es` is epoch MILLIS.
    *
    * The range guard is part of the dead-letter contract: under ANSI mode
    * `timestamp_millis(es)` is `es * 1000` µs and THROWS on long overflow,
    * so a corrupt binlog `es` (|es| > Long.MaxValue/1000, found by the
    * CdcSpec fuzz) would kill the task instead of bucketing to 00000000 —
    * the exact failure the reference's try/catch exists to absorb. The
    * bound check must not use abs(): abs(Long.MinValue) itself overflows.
    */
  def eventTimeDt(es: Column): Column = {
    val maxAbsMillis = Long.MaxValue / 1000L
    coalesce(
      when(es.between(-maxAbsMillis, maxAbsMillis),
        date_format(timestamp_millis(es), "yyyyMMdd")),
      lit("00000000"))
  }

  /** Last-writer-wins compaction: latest row per key (README.md:238-251),
    * generalized with an explicit tiebreaker so results are deterministic.
    * DELETE rows survive as rows (SURVEY.md §2.1 note) — `event_type` /
    * `dml_type` is carried through, never filtered.
    */
  def latestState(df: DataFrame, key: String, time: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(time).desc, col(tiebreak).desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** The merge restore (README.md:222-252): FULL OUTER JOIN snapshot vs
    * deduped delta on the entity key, COALESCE delta-over-snapshot per
    * column. At scale both sides shuffle on the join key once; the window
    * dedup and the join reuse the same hash partitioning on `user_id`, so
    * Catalyst plans a single exchange per side.
    */
  def mergeSnapshot(snapshot: DataFrame, delta: DataFrame, key: String, cols: Seq[String]): DataFrame = {
    val t1 = snapshot.alias("t1")
    val t2 = delta.alias("t2")
    val merged = t1.join(t2, col(s"t1.$key") === col(s"t2.$key"), "full_outer")
    merged.select(
      coalesce(col(s"t2.$key"), col(s"t1.$key")).as(key) +:
        cols.map(c => coalesce(col(s"t2.$c"), col(s"t1.$c")).as(c)): _*)
  }

  // ---- registered queries over the `events` fixture ----------------------

  private val cutoff = "2024-01-21 00:00:00"

  /** Flagship: snapshot/delta split of `events` by a ts cutoff, window
    * dedup on each side, full-outer merge with COALESCE. One expression of
    * R11+R12+R13 end-to-end.
    */
  def fullMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val cut = lit(cutoff).cast(TimestampType)
    val snap = latestState(ev.filter(col("ts") < cut), "user_id", "ts", "event_id")
    val delta = latestState(ev.filter(col("ts") >= cut), "user_id", "ts", "event_id")
    mergeSnapshot(snap, delta, "user_id", Seq("event_id", "event_type", "value", "ts"))
      .withColumn("value", round(col("value"), 2))
      .orderBy("user_id")
  }

  /** SCD Type-2 historization — the history-PRESERVING twin of the merge
    * restore: the reference's pipeline keeps only current state
    * (README.md:222-252's merge + INSERT OVERWRITE); a warehouse keeping
    * full history turns the same change stream into validity intervals
    * instead. Each entity's events become [valid_from, valid_to) rows via
    * lead(ts) over the entity window, open-ended (NULL) for the current
    * row. Cost at scale: ONE shuffle on the entity key — the exact same
    * exchange the merge restore uses — and the window is a streaming
    * frame (lead(1)), no buffering beyond the sort.
    */
  def scd2Intervals(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))
    Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), col("ts").as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** The delete-APPLYING restore variant. The reference's merge keeps
    * deletes as rows — README.md:217,257 punts true deletion to
    * kudu/HBase — and q_join_full_merge faithfully preserves that. This
    * variant completes the CDC semantics story: the same full-outer merge,
    * then entities whose LATEST state is a delete tombstone are dropped.
    * One row-local filter on the merged result (no extra shuffle), and the
    * deleted entity vanishes from the restored snapshot exactly as the
    * kudu/HBase apply would make it. The fixture's 'error' event type
    * stands in for `dml_type = 'DELETE'`.
    */
  def mergeApplyDeletes(spark: SparkSession, sfDir: String): DataFrame =
    fullMerge(spark, sfDir).filter(col("event_type") =!= "error")

  /** R14 end to end (reference README.md:222, `INSERT OVERWRITE TABLE
    * code_city SELECT ...`): the merge-restore result atomically REPLACES
    * the snapshot table, and the query result is served from the
    * overwritten table — not from the in-flight DataFrame.
    *
    * Spark (unlike Hive) statically refuses `INSERT OVERWRITE t ... FROM t`
    * ("Cannot overwrite a path that is also being read from"), so the
    * merge materializes to a staging table first; the final
    * `insertInto(overwrite)` is the reference's INSERT OVERWRITE — it
    * truncates and rewrites the managed table in one command. At scale
    * the staging write is the snapshot-size cost Hive pays internally in
    * its staging dir; nothing here is driver-side.
    */
  private val mergeCols = Seq("event_id", "event_type", "value", "ts")

  def snapshotOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.core.Warehouse
    val tag = java.lang.Integer.toHexString(sfDir.hashCode)
    val snapTable = s"snapshot_restore_$tag"
    val stageTable = s"snapshot_restore_stage_$tag"
    Warehouse.reset(spark, snapTable)
    Warehouse.reset(spark, stageTable)
    val ev = Tables(spark, sfDir, "events")
    val cut = lit(cutoff).cast(TimestampType)
    // Day 0: seed the managed snapshot table with yesterday's state.
    latestState(ev.filter(col("ts") < cut), "user_id", "ts", "event_id")
      .select(col("user_id") +: mergeCols.map(col): _*)
      .write.mode("overwrite").saveAsTable(snapTable)
    // Day 1: merge the READ-BACK snapshot table with today's delta ...
    val delta = latestState(ev.filter(col("ts") >= cut), "user_id", "ts", "event_id")
    mergeSnapshot(spark.table(snapTable), delta, "user_id", mergeCols)
      .write.mode("overwrite").saveAsTable(stageTable)
    // ... and INSERT OVERWRITE it back into the snapshot table (R14).
    spark.table(stageTable).write.mode("overwrite").insertInto(snapTable)
    spark.table(snapTable)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), col("ts"))
      .orderBy("user_id")
  }

  private def latestStateQuery(spark: SparkSession, sfDir: String): DataFrame =
    latestState(Tables(spark, sfDir, "events"), "user_id", "ts", "event_id")
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), col("ts"))
      .orderBy("user_id")

  private def ddlFilterQuery(spark: SparkSession, sfDir: String): DataFrame = {
    // R2 shape on events.props: predicate on a JSON field of the raw
    // payload. json_get is the engine's single-scan field extractor —
    // get_json_object builds a Jackson parser per row and dominated this
    // pipeline at scale (graft.functions.JsonGet).
    graft.functions.JsonGet.register(spark)
    Tables(spark, sfDir, "events")
      .withColumn("k", expr("json_get(props, 'k')").cast(IntegerType))
      .filter(col("k") < 50 && col("k").isNotNull)
      .select(col("event_id"), col("event_type"), col("k"))
      .orderBy("event_id")
  }

  private def flattenQuery(spark: SparkSession, sfDir: String): DataFrame = {
    // R3 shape on events: parse the JSON payload, emit the delimited record.
    graft.functions.JsonGet.register(spark)
    Tables(spark, sfDir, "events")
      .withColumn("k", expr("json_get(props, 'k')").cast(IntegerType))
      .select(
        col("event_id"),
        concat_ws(",", col("event_id"), col("user_id"), col("event_type"), col("k")).as("line"))
      .orderBy("event_id")
  }

  /** Multi-version snapshot lineage + time travel — the history the
    * reference's INSERT OVERWRITE snapshot (README.md:222) throws away:
    * three latest-state snapshots at growing ts cutoffs commit as
    * core.Versions 1-3 (a crashed writer's version is invisible), then
    * the entry reads AS OF v2 and v3 and emits the per-entity CHANGES
    * between them (added vs updated entities with both versions' state):
    * the audit a reproducibility check ("what did training snapshot v2
    * contain, and what changed since?") runs. At 100 TB each version is
    * bucketed on the merge key and the diff is a co-partitioned join;
    * sharing unchanged files across versions is left to the format.
    */
  private val ttCut1 = "2024-01-11 00:00:00"

  def timeTravelDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.core.TempDirs.create("graft_time_travel")
    val ev = Tables(spark, sfDir, "events")
    Seq(Some(ttCut1), Some(cutoff), None).zipWithIndex.foreach { case (cut, i) =>
      val slice = cut.fold(ev)(c => ev.filter(col("ts") < lit(c).cast(TimestampType)))
      Versions.commit(dir, i + 1,
        latestState(slice, "user_id", "ts", "event_id")
          .select(col("user_id") +: mergeCols.map(col): _*))
    }
    val v2 = Versions.read(spark, dir, 2).alias("old")
    val v3 = Versions.read(spark, dir, 3).alias("new")
    v3.join(v2, col("new.user_id") === col("old.user_id"), "left")
      .filter(col("old.user_id").isNull || col("old.event_id") =!= col("new.event_id"))
      .select(col("new.user_id").as("user_id"),
        when(col("old.user_id").isNull, lit("added")).otherwise(lit("updated")).as("change"),
        col("old.event_id").as("event_id_v2"),
        col("new.event_id").as("event_id_v3"),
        round(col("old.value"), 2).as("value_v2"),
        round(col("new.value"), 2).as("value_v3"))
      .orderBy("user_id")
  }

  private def scanPruneDt(spark: SparkSession, sfDir: String): DataFrame =
    // R10: partition-pruned scan. The `dt` derivation is the write-side
    // partition column (R4); filtering on it prunes partitions when the
    // table is written partitionBy("dt") — here derived on the fly over the
    // unpartitioned fixture, same semantics.
    Tables(spark, sfDir, "events")
      .withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
      .filter(col("dt") === "20240105")
      .select(col("event_id"), col("dt"), col("event_type"), col("user_id"))
      .orderBy("event_id")

  /** The oracles' [[latestState]] rank: 1 on each user's latest event. */
  private val LatestRn =
    "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn"

  /** DuckDB twin of [[latestState]] over `events` rows matching `where`. */
  private def latestOracle(where: String): String =
    s"""SELECT * FROM (
          SELECT e.*, $LatestRn
          FROM events e$where) WHERE rn = 1"""

  /** DuckDB twin of [[fullMerge]], then `where` on the merged rows: the
    * oracle of q_join_full_merge, q_snapshot_overwrite (the same answer,
    * served from the overwritten table) and q_merge_apply_deletes.
    */
  private def fullMergeOracle(where: String): String = s"""
      WITH snap AS (
        ${latestOracle(s" WHERE ts < TIMESTAMP '$cutoff'")}),
      delta AS (
        ${latestOracle(s" WHERE ts >= TIMESTAMP '$cutoff'")})
      SELECT COALESCE(t2.user_id, t1.user_id) AS user_id,
             COALESCE(t2.event_id, t1.event_id) AS event_id,
             COALESCE(t2.event_type, t1.event_type) AS event_type,
             round(COALESCE(t2.value, t1.value), 2) AS value,
             COALESCE(t2.ts, t1.ts) AS ts
      FROM snap t1 FULL OUTER JOIN delta t2 ON t1.user_id = t2.user_id$where
      ORDER BY user_id"""

  override val defs: Map[String, QueryDef] = Map(
    "q_join_full_merge" -> QueryDef(fullMerge, Some(fullMergeOracle(""))),
    "q_time_travel" -> QueryDef(timeTravelDiff, Some(s"""
      WITH v2 AS (
        ${latestOracle(s" WHERE ts < TIMESTAMP '$cutoff'")}),
      v3 AS (
        ${latestOracle("")})
      SELECT v3.user_id,
             CASE WHEN v2.user_id IS NULL THEN 'added' ELSE 'updated' END AS change,
             v2.event_id AS event_id_v2, v3.event_id AS event_id_v3,
             round(v2.value, 2) AS value_v2, round(v3.value, 2) AS value_v3
      FROM v3 LEFT JOIN v2 ON v2.user_id = v3.user_id
      WHERE v2.user_id IS NULL OR v2.event_id <> v3.event_id
      ORDER BY v3.user_id""")),
    "q_scd2_intervals" -> QueryDef(scd2Intervals, Some("""
      SELECT user_id, event_id, event_type, round(value, 2) AS value,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      FROM events
      ORDER BY user_id, valid_from, event_id""")),
    "q_merge_apply_deletes" -> QueryDef(mergeApplyDeletes, Some(fullMergeOracle(
      "\n      WHERE COALESCE(t2.event_type, t1.event_type) <> 'error'"))),
    // Same relational answer as q_join_full_merge, but served from the
    // OVERWRITTEN managed table (R14) — the oracle is identical on purpose.
    "q_snapshot_overwrite" -> QueryDef(snapshotOverwrite, Some(fullMergeOracle(""))),
    "q_latest_state" -> QueryDef(latestStateQuery, Some(s"""
      SELECT user_id, event_id, event_type, round(value, 2) AS value, ts
      FROM (
        SELECT e.*, $LatestRn
        FROM events e) WHERE rn = 1
      ORDER BY user_id""")),
    "q_cdc_ddl_filter" -> QueryDef(ddlFilterQuery, Some("""
      SELECT event_id, event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events
      WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) < 50
        AND json_extract_string(props, '$.k') IS NOT NULL
      ORDER BY event_id""")),
    "q_cdc_flatten" -> QueryDef(flattenQuery, Some("""
      SELECT event_id,
             concat_ws(',', event_id, user_id, event_type,
                       CAST(json_extract_string(props, '$.k') AS INTEGER)) AS line
      FROM events
      ORDER BY event_id""")),
    "q_scan_prune_dt" -> QueryDef(scanPruneDt, Some("""
      SELECT event_id, strftime(ts, '%Y%m%d') AS dt, event_type, user_id
      FROM events
      WHERE strftime(ts, '%Y%m%d') = '20240105'
      ORDER BY event_id""")))
}
