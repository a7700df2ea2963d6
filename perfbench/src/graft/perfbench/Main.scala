package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Harness

/** One measured operation stream: per-operation latencies (ms), work per
  * second, process CPU microseconds per input row, and how many
  * operations failed their output check.
  */
final case class Measured(samplesMs: Seq[Double], throughput: Double, cpuUsPerRow: Double, attempted: Int,
    failed: Int, failure: Option[String])

/** A finished streaming query and what its generator published when. */
final case class StreamRun(queryId: String, ckpt: String, out: String, publishUs: Map[String, Long])

/** `corrupt` names the output a smoke test damages before it is checked:
  * `sink` (steady), `snapshot` (merge) or `labels` (the traced merge
  * run's clustering probe); empty for a real run.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val tiny: Boolean,
    val corrupt: String, workDir: File) {
  val streams = mutable.ArrayBuffer.empty[StreamRun]
  /** Directories the measured operations wrote their output to. */
  val outputDirs = mutable.ArrayBuffer.empty[File]
  val noTrace = new Recorder(spark)
  private var n = 0

  def freshDir(prefix: String): File = {
    n += 1
    val d = new File(workDir, s"data/$prefix-$n")
    d.mkdirs()
    d
  }
}

trait Workload {
  /** Generate and publish the inputs (repeatable: each call starts over). */
  def generate(): Unit
  def warm(): Unit
  def measure(seconds: Int, rec: Recorder): Measured
  /** Input properties for the run record. */
  def props: Map[String, Any]
  /** The traced run's fixed-sample layer probes: metrics, and the
    * outcome of each output check they make.
    */
  def probe(rec: Recorder): (Map[String, Double], Seq[Option[String]])
}

/** Benchmark driver: one workload, one JVM, `local[4]`.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        [--size full|tiny] [--corrupt sink|snapshot|labels] --work-dir <dir>
  *
  * Prints a run-record line, then the result line. Exit code 3 means an
  * output check failed.
  */
object Main {
  val Cores = 4
  val SetupReps = 3
  /** The fewest operations a closed loop runs. */
  val MinOps = 3

  /** A closed loop: `op` back to back `n` times. An operation that throws
    * ends the loop; it is returned as the error and counts as one failed
    * operation.
    */
  def repeat[T](n: Int)(op: Int => T): (Seq[T], Option[String]) = {
    val done = mutable.ArrayBuffer.empty[T]
    var error: Option[String] = None
    while (error.isEmpty && done.size < n)
      try done += op(done.size)
      catch { case scala.util.control.NonFatal(e) => error = Some(s"operation ${done.size} failed: $e") }
    (done.toSeq, error)
  }

  /** Run an output check; a check that throws has failed. */
  def check(body: => Option[String]): Option[String] =
    try body catch { case scala.util.control.NonFatal(e) => Some(s"output check failed: $e") }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seconds = opt("seconds").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val workDir = new File(opt("work-dir"))

    val startUs = Util.nowUs()
    val (spark, sessionS) = Util.timed(Harness.session(Cores.toString))
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val ctx = new Ctx(spark, opt("seed").toLong, seconds, opt.getOrElse("size", "full") == "tiny",
      opt.getOrElse("corrupt", ""), workDir)
    val w: Workload = name match {
      case "cdc_ingest_steady" => new SteadyIngest(ctx)
      case "merge_restore" => new MergeRestore(ctx)
    }
    val rec = new Recorder(spark)
    if (trace) rec.start()

    val (setup, m, values) = rec.span("workload", name) {
      rec.record("phase", "session start", startUs, startUs + (sessionS * 1e6).toLong)
      val genS = rec.span("phase", "generate")((1 to SetupReps).map(_ => Util.timed(w.generate())._2))
      val (_, warmS) = Util.timed(rec.span("phase", "warm")(w.warm()))
      val setup = Map("core.session_start_s" -> sessionS, "core.generate_s" -> Util.median(genS),
        "core.warmup_s" -> warmS)
      if (!trace) {
        val m = w.measure(seconds, rec)
        (setup, m, Map(
          "setup_s" -> (sessionS + Util.median(genS) + warmS),
          "cpu_us_per_row" -> m.cpuUsPerRow,
          "peak_rss_mb" -> Util.peakRssMb(),
          "ok_share" -> (1.0 - m.failed.toDouble / math.max(1, m.attempted))))
      } else {
        val (m, layers) = traced(ctx, w, rec, seconds)
        (setup, m, setup ++ layers)
      }
    }
    val metrics = if (!trace) values else {
      rec.stop()
      val self = rec.selfSeconds
      values ++ Map("trace.spans" -> rec.all.size.toDouble) ++
        Seq("workload", "phase", "op", "microbatch", "job", "stage")
          .map(k => s"trace.self_s.$k" -> self.getOrElse(k, 0.0))
    }
    val units = (if (trace) Layers.Units else EndToEnd).toMap
    val correct = m.failure.isEmpty && m.failed == 0
    var record = Map("workload" -> name, "seed" -> ctx.seed, "seconds" -> seconds,
      "trace" -> trace, "inputs" -> w.props, "setup" -> setup,
      "operations" -> m.samplesMs.size, "op_p50_ms" -> Util.median(m.samplesMs),
      "throughput_per_s" -> m.throughput,
      "samples_ms" -> m.samplesMs.map(x => math.rint(x * 10) / 10),
      "failure" -> m.failure.orNull)
    val result = Map("correct" -> correct, "attempted" -> m.attempted, "failed" -> m.failed,
      "metrics" -> units.map { case (k, u) => k -> Map("value" -> metrics.getOrElse(k, 0.0), "unit" -> u) })
    if (trace) {
      val traces = new File(workDir.getParentFile, "traces")
      traces.mkdirs()
      val f = new File(traces, s"$name-seed${ctx.seed}.json")
      rec.writeJson(f)
      record += ("trace_file" -> f.getPath)
    }
    spark.stop()
    println(Util.json(Map("record" -> record)))
    println(Util.json(result))
    System.out.flush()
    sys.exit(if (correct) 0 else 3)
  }

  /** Wall-time figures are in the run record (`op_p50_ms`, `samples_ms`,
    * `throughput_per_s`), not here: across ten seeds on a 4-vCPU VM the
    * steady batch rate spread 19-30%, beyond or too close to the largest
    * bound a metric may carry (25%). CPU per row spread 4-9%.
    */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "cpu_us_per_row" -> "us",
    "peak_rss_mb" -> "MB", "ok_share" -> "share")

  /** The traced run: the traced window first, in the JVM state an
    * untraced run measures; then the workload's fixed-sample layer
    * probes; then, with the recorder stopped, the warm-up again and an
    * untraced window. The traced median against the untraced one is the
    * tracing overhead; the traced window runs on a colder JVM, so this
    * overstates it.
    */
  private def traced(ctx: Ctx, w: Workload, rec: Recorder, seconds: Int): (Measured, Map[String, Double]) = {
    rec.resetJvm()
    val gc0 = rec.gcSeconds()
    val (window, m) = rec.span("phase", "measure")((rec.current.get, w.measure(seconds, rec)))
    rec.barrier()
    val jvm = Map("jvm.heap_used_peak_mb" -> rec.heapPeakMb(), "jvm.gc_pause_s" -> (rec.gcSeconds() - gc0))
    val layers = Layers.measured(rec, window, Cores, ctx) ++ Layers.stream(rec, ctx.streams.toList)
    val (probe, checks) = rec.span("phase", "probe")(w.probe(rec))
    rec.stop()
    w.warm()
    val plain = w.measure(seconds, rec)
    val tracedP50 = Util.median(m.samplesMs)
    val plainP50 = Util.median(plain.samplesMs)
    val overhead = Map(
      "trace.op_p50_ms_untraced" -> plainP50,
      "trace.op_p50_ms_traced" -> tracedP50,
      "trace.overhead_share" -> (tracedP50 / plainP50 - 1.0))
    val all = Seq(m, plain)
    (Measured(m.samplesMs, m.throughput, m.cpuUsPerRow, all.map(_.attempted).sum + checks.size,
      all.map(_.failed).sum + checks.count(_.isDefined),
      (all.flatMap(_.failure) ++ checks.flatten).headOption), jvm ++ layers ++ probe ++ overhead)
  }
}
