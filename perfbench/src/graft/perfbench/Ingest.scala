package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.cdc.Cdc

/** The streaming CDC job, wired the way `Streaming.cdcCanal` wires it: a
  * text-file topic of Canal JSON envelopes → `Cdc.parseEnvelope` →
  * `Cdc.ddlFilter` → `Cdc.flatten` → `Cdc.eventTimeDt` → a parquet file
  * sink partitioned by `dt`, with a checkpoint.
  */
object CdcJob {
  val PayloadCols = Seq("user_id", "event_type", "value")

  def shaped(spark: SparkSession, topic: String, maxFilesPerTrigger: Option[Int]): DataFrame = {
    var reader = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n.toLong))
    val parsed = Cdc.parseEnvelope(reader.text(topic))
    Cdc.flatten(Cdc.ddlFilter(parsed), PayloadCols).withColumn("dt", Cdc.eventTimeDt(col("es")))
  }

  def start(df: DataFrame, out: String, ckpt: String, trigger: Option[Trigger]): StreamingQuery = {
    val w = df.writeStream.format("parquet").partitionBy("dt")
      .option("path", out).option("checkpointLocation", ckpt).outputMode("append")
    trigger.fold(w)(w.trigger).start()
  }

  /** Compare a sink's committed rows (read through its `_spark_metadata`
    * log) with the generator's expectation: per-`dt` row counts, the
    * dead-letter count and an order-independent digest of every line.
    */
  def check(spark: SparkSession, out: String, expect: Gen.SinkExpect): Option[String] = {
    val df = spark.read.parquet(out).withColumn("h", xxhash64(col("line")))
    val perDt = df.groupBy("dt").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val d = df.agg(count(lit(1)), bit_xor(col("h")), sum(shiftrightunsigned(col("h"), 33)))
      .head()
    val got = Gen.Digest(d.getLong(0), if (d.isNullAt(1)) 0L else d.getLong(1),
      if (d.isNullAt(2)) 0L else d.getLong(2))
    if (perDt != expect.perDt.toMap) {
      val diff = (perDt.keySet ++ expect.perDt.keySet).toSeq.sorted
        .filter(k => perDt.get(k) != expect.perDt.get(k)).take(3)
        .map(k => s"$k: ${perDt.getOrElse(k, 0L)} vs ${expect.perDt.getOrElse(k, 0L)}")
      Some(s"per-dt counts differ (${diff.mkString(", ")})")
    } else if (perDt.getOrElse("00000000", 0L) != expect.deadLetter) Some("dead-letter count differs")
    else if (got != expect.digest) Some(s"line digest differs: $got vs ${expect.digest}")
    else None
  }

  /** Remove one `dt` partition directory from a sink (smoke-test corruption). */
  def dropOnePartition(out: String): Unit =
    Option(new File(out).listFiles()).toSeq.flatten.filter(_.getName.startsWith("dt="))
      .sortBy(_.getName).headOption.foreach(Util.deleteRecursively)
}

/** What a finished query's checkpoint and sink logs say: which input
  * file each batch read, when each batch's sink commit became visible,
  * and which output files it added.
  */
final class StreamLogs(ckpt: String, out: String) {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  private def logFiles(dir: File): Seq[(Long, File)] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.matches("\\d+(\\.compact)?"))
      .map(f => f.getName.takeWhile(_.isDigit).toLong -> f).sortBy(_._1)

  private def lines(f: File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().drop(1).toList finally src.close()
  }

  /** Input file name → batch id (compacted source logs keep each
    * entry's batch id).
    */
  val fileBatch: Map[String, Long] = logFiles(new File(ckpt, "sources/0")).flatMap { case (_, f) =>
    lines(f).flatMap { l =>
      for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
        yield new File(p.group(1)).getName -> b.group(1).toLong
    }
  }.toMap

  private val sinkLogs = logFiles(new File(out, "_spark_metadata"))

  /** Batch id → epoch µs at which its sink commit was written. */
  val commitUs: Map[Long, Long] = sinkLogs.map { case (b, f) =>
    b -> java.nio.file.Files.getLastModifiedTime(f.toPath).to(java.util.concurrent.TimeUnit.MICROSECONDS)
  }.toMap

  /** Batch id → output files that batch added (a compacted log lists all
    * files so far; earlier batches' files are subtracted).
    */
  val outputFiles: Map[Long, Seq[String]] = {
    val seen = mutable.HashSet.empty[String]
    sinkLogs.map { case (b, f) =>
      val added = lines(f).flatMap(l => PathRe.findFirstMatchIn(l).map(_.group(1))).filterNot(seen)
      seen ++= added
      b -> added
    }.toMap
  }

  def partitionsPerBatch: Seq[Double] =
    outputFiles.values.filter(_.nonEmpty)
      .map(fs => fs.map(p => p.split('/').find(_.startsWith("dt=")).getOrElse("")).distinct.size.toDouble)
      .toSeq

  /** Most files published but not yet taken by a batch, at any batch start. */
  def backlogMax(publishUs: Map[String, Long], batchStartUs: Map[Long, Long]): Double = {
    val filesPerBatch = fileBatch.groupBy(_._2).map { case (b, m) => b -> m.size }
    batchStartUs.toSeq.sortBy(_._1).map { case (b, t) =>
      val published = publishUs.values.count(_ <= t)
      val taken = filesPerBatch.collect { case (bb, n) if bb < b => n }.sum
      (published - taken).toDouble
    }.foldLeft(0.0)(math.max)
  }
}

/** Open-loop ingest: one generator thread publishes `perTick` envelopes
  * every `tickMs` on a fixed schedule, whatever the job does; the job
  * runs continuously with the default trigger. A tick's latency is from
  * its scheduled publish time to the sink commit that made its rows
  * readable. The run's bounded figure is the job's CPU per envelope over
  * the window, which the offered rate does not set. One tick's file is
  * one task's batch; the tick period leaves room for it, so each tick
  * gets its own batch (a period shorter than the batch made runs flip
  * between one- and two-file batches, and the median lag with them).
  *
  * The schedule starts in set-up, after a throw-away query's cold
  * batches: the first `warmTicks` ticks bring the running query to
  * steady state, and only the ticks of the measured window that follows
  * are latency samples. The output check covers every tick.
  */
final class SteadyIngest(ctx: Ctx) extends Workload {
  val tickMs: Int = 1000
  val perTick: Int = if (ctx.tiny) 500 else 5000
  val warmTicks: Int = if (ctx.tiny) 3 else 8
  /** Tick files the throw-away query drains, one per batch. */
  val warmFiles: Int = if (ctx.tiny) 3 else 12
  private var live: Option[OpenLoop] = None
  private var lastProps: Map[String, Any] = Map.empty

  /** Inputs are generated on the schedule, by the open loop itself. */
  def generate(): Unit = ()

  def warm(): Unit = {
    // Cold batches of a throw-away query first: class loading and code
    // generation would otherwise stall the schedule's first batch for
    // seconds, and with only 3 of them batch times were still falling
    // through the first ten window ticks.
    val topic = ctx.freshDir("warm-topic")
    val g = new Gen.Envelopes(0L)
    (0 until warmFiles).foreach { i =>
      val sb = new java.lang.StringBuilder
      (0 until perTick).foreach(_ => g.append(sb, Gen.Day0Ms + i * tickMs))
      Util.writeAtomically(topic, f"tick-$i%05d.json", Util.utf8(sb.toString))
    }
    CdcJob.start(CdcJob.shaped(ctx.spark, topic.getPath, Some(1)), ctx.freshDir("warm-out").getPath,
      ctx.freshDir("warm-ckpt").getPath, Some(Trigger.AvailableNow())).awaitTermination()
    live = Some(new OpenLoop(ctx.seconds * 1000 / tickMs))
  }

  /** Requires [[warm]], which starts the open loop this window ends. */
  def measure(seconds: Int, rec: Recorder): Measured = {
    val loop = live.get
    live = None
    loop.finish(rec)
  }

  def props: Map[String, Any] = lastProps

  def probe(rec: Recorder): (Map[String, Double], Seq[Option[String]]) = (Probe.ingest(ctx), Nil)

  private final class OpenLoop(windowTicks: Int) {
    val ticks: Int = warmTicks + windowTicks
    private val topic = ctx.freshDir("topic")
    private val out = ctx.freshDir("out").getPath
    private val ckpt = ctx.freshDir("ckpt").getPath
    private val g = new Gen.Envelopes(ctx.seed)
    private val dueUs = new Array[Long](ticks)
    private val publishUs = new Array[Long](ticks)
    private val names = (0 until ticks).map(i => f"tick-$i%05d.json")
    /** The generator's own CPU seconds over the window's ticks. */
    @volatile private var genCpuS = 0.0
    private val q = CdcJob.start(CdcJob.shaped(ctx.spark, topic.getPath, None), out, ckpt, None)
    Thread.sleep(500) // let the query finish its start-up before the first tick
    private val t0Us = Util.nowUs() + 100000L
    private val publisher = new Thread(() => {
      var i = 0
      while (i < ticks) {
        val due = t0Us + i.toLong * tickMs * 1000L
        val cpu0 = Util.threadCpuS()
        val sb = new java.lang.StringBuilder(perTick * 260)
        var e = 0
        while (e < perTick) { g.append(sb, due / 1000L); e += 1 }
        val waitUs = due - Util.nowUs()
        if (waitUs > 0) Thread.sleep(waitUs / 1000L, ((waitUs % 1000L) * 1000L).toInt)
        Util.writeAtomically(topic, names(i), Util.utf8(sb.toString))
        if (i >= warmTicks) genCpuS += Util.threadCpuS() - cpu0
        dueUs(i) = due
        publishUs(i) = Util.nowUs()
        i += 1
      }
    }, "perfbench-generator")
    publisher.start()
    sleepUntil(t0Us + warmTicks.toLong * tickMs * 1000L)

    private def sleepUntil(us: Long): Unit = {
      val w = us - Util.nowUs()
      if (w > 0) Thread.sleep(w / 1000L)
    }

    /** Run the measured window, drain, stop, check. */
    def finish(rec: Recorder): Measured = {
      val cpu0 = Util.processCpuS()
      val ownCpu0 = Util.threadCpuS()
      rec.span("op", "open-loop window") {
        publisher.join()
        // Drain: wait until every tick's file sits in a committed batch.
        val deadline = System.nanoTime() + 60L * 1000000000L
        var done = false
        while (!done && System.nanoTime() < deadline && q.exception.isEmpty) {
          val logs = new StreamLogs(ckpt, out)
          done = names.forall(n => logs.fileBatch.get(n).exists(logs.commitUs.contains))
          if (!done) Thread.sleep(100)
        }
      }
      // The job's CPU over the window: the process's, less the
      // generator's and this thread's log polling.
      val cpuS = Util.processCpuS() - cpu0 - (Util.threadCpuS() - ownCpu0) - genCpuS
      q.stop()
      val logs = new StreamLogs(ckpt, out)
      val commit = names.map(n => logs.fileBatch.get(n).flatMap(logs.commitUs.get))
      val window = warmTicks until ticks
      val lagsMs = window.flatMap(i => commit(i).map(c => (c - dueUs(i)) / 1000.0))
      val lateMs = (0 until ticks).map(i => (publishUs(i) - dueUs(i)) / 1000.0)
      window.foreach(i => commit(i).foreach(c =>
        rec.record("op", s"tick $i", dueUs(i), c, "envelopes" -> perTick)))
      // The job's own speed, for the run record: envelopes per second of
      // micro-batch time (`triggerExecution`), for each batch that read a
      // window tick.
      val windowBatches = window.flatMap(i => logs.fileBatch.get(names(i))).toSet
      val batchRates = q.recentProgress.toSeq.filter(p => windowBatches(p.batchId) && p.numInputRows > 0)
        .map(p => p.numInputRows * 1000.0 /
          math.max(1.0, p.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0)))
      lastProps = g.props ++ Map(
        "loop" -> "open", "rate_per_s" -> perTick * 1000 / tickMs, "tick_ms" -> tickMs,
        "warm_ticks" -> warmTicks, "window_ticks" -> window.size, "window_batches" -> batchRates.size,
        "ingest_lag_p50_ms" -> Util.median(lagsMs), "ingest_lag_p95_ms" -> Util.quantile(lagsMs, 0.95),
        "gen.late_ms_p50" -> Util.median(lateMs), "gen.late_ms_max" -> lateMs.foldLeft(0.0)(math.max))
      val checkFailure =
        if (lateMs.exists(_ > tickMs)) Some(f"generator fell ${lateMs.max}%.1f ms behind its schedule")
        else if (commit.exists(_.isEmpty)) Some(s"${commit.count(_.isEmpty)} ticks never committed")
        else if (batchRates.isEmpty) Some("no progress reported for the window's batches")
        else {
          if (ctx.corrupt == "sink") CdcJob.dropOnePartition(out)
          Main.check(CdcJob.check(ctx.spark, out, g.expect))
        }
      ctx.streams += StreamRun(q.id.toString, ckpt, out, names.zip(publishUs).toMap)
      ctx.outputDirs += new File(out)
      Measured(lagsMs, Util.median(batchRates), cpuS * 1e6 / (window.size.toLong * perTick),
        attempted = window.size, failed = if (checkFailure.isDefined) window.size else 0, checkFailure)
    }
  }
}
