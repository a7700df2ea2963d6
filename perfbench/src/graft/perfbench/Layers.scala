package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of the traced run, read from the recorder's spans. */
object Layers {

  /** Every per-layer metric the traced run prints, with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "core.session_start_s" -> "s", "core.generate_s" -> "s", "core.warmup_s" -> "s",
    "cdc.parse_s" -> "s", "cdc.ddl_filter_s" -> "s", "cdc.flatten_s" -> "s",
    "cdc.event_time_dt_s" -> "s", "cdc.fanout" -> "rows/envelope", "cdc.ddl_dropped_share" -> "share",
    "cdc.dead_letter_rows" -> "count", "cdc.latest_state_s" -> "s", "cdc.merge_join_s" -> "s",
    "cdc.snapshot_write_s" -> "s", "cdc.exchanges_per_merge" -> "count",
    "cdc.rows_examined_per_result_row" -> "ratio",
    "stream.batches" -> "count", "stream.envelopes_per_batch_p50" -> "count",
    "stream.trigger_ms_p50" -> "ms", "stream.latest_offset_ms_p50" -> "ms",
    "stream.get_batch_ms_p50" -> "ms", "stream.query_planning_ms_p50" -> "ms",
    "stream.add_batch_ms_p50" -> "ms", "stream.wal_commit_ms_p50" -> "ms",
    "stream.commit_offsets_ms_p50" -> "ms", "stream.fixed_cost_share" -> "share",
    "stream.backlog_files_max" -> "count",
    "spark.plan.analysis_ms" -> "ms", "spark.plan.optimization_ms" -> "ms",
    "spark.plan.planning_ms" -> "ms",
    "spark.exec.jobs" -> "count", "spark.exec.stages" -> "count", "spark.exec.tasks" -> "count",
    "spark.exec.tasks_per_stage_p50" -> "count", "spark.exec.task_s" -> "s",
    "spark.exec.task_cpu_s" -> "s", "spark.exec.gc_s" -> "s", "spark.exec.busy_share" -> "share",
    "spark.exec.skew_max_over_median" -> "ratio", "spark.exec.driver_gap_s" -> "s",
    "spark.shuffle.write_bytes" -> "B", "spark.shuffle.read_bytes" -> "B",
    "spark.shuffle.fetch_wait_ms" -> "ms", "spark.spill.memory_bytes" -> "B",
    "spark.spill.disk_bytes" -> "B",
    "io.input_bytes" -> "B", "io.output_bytes" -> "B", "io.output_files" -> "count",
    "io.output_bytes_per_input_byte" -> "ratio", "io.sink_partitions_per_batch_p50" -> "count",
    "ops.graph.rounds" -> "count", "ops.graph.jobs" -> "count", "ops.graph.jobs_per_round" -> "ratio",
    "ops.graph.round_s_p50" -> "s",
    "ext.dedup.signature_s" -> "s", "ext.dedup.candidate_s" -> "s",
    "ext.dedup.candidate_pairs" -> "count", "ext.dedup.candidate_precision" -> "share",
    "ext.dedup.planted_recall" -> "share",
    "jvm.heap_used_peak_mb" -> "MB", "jvm.gc_pause_s" -> "s",
    "trace.spans" -> "count", "trace.op_p50_ms_untraced" -> "ms", "trace.op_p50_ms_traced" -> "ms",
    "trace.overhead_share" -> "share") ++
    Seq("workload", "phase", "op", "microbatch", "job", "stage").map(k => s"trace.self_s.$k" -> "s")

  /** Execution, shuffle, planning and I/O numbers of the jobs that
    * started inside `window` (the traced measure phase).
    */
  def measured(rec: Recorder, window: Span, cores: Int, ctx: Ctx): Map[String, Double] = {
    val jobs = rec.spansIn("job", window)
    val jobIds = jobs.map(_.id).toSet
    val stages = rec.all.filter(s => s.kind == "stage" && jobIds(s.parent))
    def sum(k: String) = stages.map(_.counts.getOrElse(k, 0.0)).sum
    val wallS = window.durUs / 1e6
    val taskS = sum("task_s")
    val skew = stages.flatMap(s => rec.taskMs.get(s)).filter(_.size >= cores)
      .map(t => t.max / math.max(1.0, Util.median(t.toSeq))).foldLeft(0.0)(math.max)
    val busyUs = rec.covers(jobs.filter(_.endUs >= 0).map(j =>
      (math.max(j.startUs, window.startUs), math.min(j.endUs, window.endUs))))
    val plans = rec.planning.filter { case (t, _, _, _) => t >= window.startUs && t <= window.endUs }
    val outFiles = ctx.outputDirs.map(d => partFiles(d).size).sum
    Map(
      "spark.plan.analysis_ms" -> Util.median(plans.map(_._2).toSeq),
      "spark.plan.optimization_ms" -> Util.median(plans.map(_._3).toSeq),
      "spark.plan.planning_ms" -> Util.median(plans.map(_._4).toSeq),
      "spark.exec.jobs" -> jobs.size.toDouble,
      "spark.exec.stages" -> stages.size.toDouble,
      "spark.exec.tasks" -> sum("tasks"),
      "spark.exec.tasks_per_stage_p50" -> Util.median(stages.map(_.counts.getOrElse("tasks", 0.0))),
      "spark.exec.task_s" -> taskS,
      "spark.exec.task_cpu_s" -> sum("task_cpu_s"),
      "spark.exec.gc_s" -> sum("gc_s"),
      "spark.exec.busy_share" -> taskS / math.max(1e-9, wallS * cores),
      "spark.exec.skew_max_over_median" -> skew,
      "spark.exec.driver_gap_s" -> math.max(0.0, wallS - busyUs / 1e6),
      "spark.shuffle.write_bytes" -> sum("shuffle_write_bytes"),
      "spark.shuffle.read_bytes" -> sum("shuffle_read_bytes"),
      "spark.shuffle.fetch_wait_ms" -> sum("fetch_wait_ms"),
      "spark.spill.memory_bytes" -> sum("spill_memory_bytes"),
      "spark.spill.disk_bytes" -> sum("spill_disk_bytes"),
      "io.input_bytes" -> sum("input_bytes"),
      "io.output_bytes" -> sum("output_bytes"),
      "io.output_files" -> outFiles.toDouble,
      "io.output_bytes_per_input_byte" -> sum("output_bytes") / math.max(1.0, sum("input_bytes")))
  }

  private def partFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory && !f.getName.startsWith("_")) partFiles(f)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    }

  /** Micro-batch phases (`StreamingQueryProgress.durationMs`, p50 over
    * batches that read input), backlog and sink fan-out of `runs`.
    */
  def stream(rec: Recorder, runs: Seq[StreamRun]): Map[String, Double] = {
    val ids = runs.map(_.queryId).toSet
    val evs = rec.progress.toList.filter(p => ids(p.id.toString) && p.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)
    def p50(k: String) = Util.median(evs.map(dur(_, k)))
    val trigger = evs.map(dur(_, "triggerExecution")).sum
    val addBatch = evs.map(dur(_, "addBatch")).sum
    val logs = runs.map(r => r -> new StreamLogs(r.ckpt, r.out))
    val backlog = logs.map { case (r, l) =>
      val starts = evs.filter(_.id.toString == r.queryId).map(p =>
        p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L).toMap
      l.backlogMax(r.publishUs, starts)
    }.foldLeft(0.0)(math.max)
    Map(
      "stream.batches" -> evs.size.toDouble,
      "stream.envelopes_per_batch_p50" -> Util.median(evs.map(_.numInputRows.toDouble)),
      "stream.trigger_ms_p50" -> p50("triggerExecution"),
      "stream.latest_offset_ms_p50" -> p50("latestOffset"),
      "stream.get_batch_ms_p50" -> p50("getBatch"),
      "stream.query_planning_ms_p50" -> p50("queryPlanning"),
      "stream.add_batch_ms_p50" -> p50("addBatch"),
      "stream.wal_commit_ms_p50" -> p50("walCommit"),
      "stream.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "stream.fixed_cost_share" -> (trigger - addBatch) / math.max(1e-9, trigger),
      "stream.backlog_files_max" -> backlog,
      "io.sink_partitions_per_batch_p50" -> Util.median(logs.flatMap(_._2.partitionsPerBatch)))
  }
}
