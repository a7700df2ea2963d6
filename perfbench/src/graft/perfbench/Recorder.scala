package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `counts` holds the
  * numbers measured at this boundary (rows, bytes, task seconds, ...).
  */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    var startUs: Long, var endUs: Long = -1L) {
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  def durUs: Long = math.max(0L, endUs - startUs)
}

/** The benchmark's span recorder. Driver code opens workload, phase and
  * operation spans with [[span]]; the Spark listeners it installs add
  * micro-batch, job and stage spans under them and attach task, shuffle,
  * spill and I/O counts at the stage boundary. Spans stay in memory and
  * are written once, at the end of the run.
  *
  * While the recorder is stopped, [[span]] only runs its body and no
  * listener is installed: untraced measurement pays nothing.
  */
final class Recorder(spark: SparkSession) {
  @volatile private var on = false
  private val SpanProp = "perfbench.span"
  private val BatchProp = "streaming.sql.batchId"
  private val QueryProp = "sql.streaming.queryId"

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val stageSpan = mutable.HashMap.empty[(Int, Int), Span]
  private val stageJob = mutable.HashMap.empty[Int, Span]
  private val batchSpan = mutable.HashMap.empty[(String, Long), Span]
  val taskMs = mutable.HashMap.empty[Span, mutable.ArrayBuffer[Double]]
  /** (end time, analysis, optimization, planning ms) per executed query. */
  val planning = mutable.ArrayBuffer.empty[(Long, Double, Double, Double)]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def newSpan(parent: Int, kind: String, name: String, startUs: Long): Span =
    lock.synchronized {
      val s = new Span(spans.size + 1, parent, kind, name, startUs)
      spans += s
      s
    }

  def current: Option[Span] = stack.get.headOption

  /** Run `body` inside a span; jobs it submits become its children. */
  def span[T](kind: String, name: String)(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    val s = newSpan(current.fold(0)(_.id), kind, name, Util.nowUs())
    val saved = sc.getLocalProperty(SpanProp)
    stack.set(s :: stack.get)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endUs = Util.nowUs()
      stack.set(stack.get.tail)
      sc.setLocalProperty(SpanProp, saved)
    }
  }

  /** A span for an interval measured elsewhere (for example a tick). */
  def record(kind: String, name: String, startUs: Long, endUs: Long,
      counts: (String, Double)*): Unit = if (on) {
    val s = newSpan(current.fold(0)(_.id), kind, name, startUs)
    s.endUs = endUs
    counts.foreach { case (k, v) => s.add(k, v) }
  }

  /** Wait until every posted listener event has been delivered. */
  def barrier(): Unit = if (on) GraftListenerBridge.waitUntilEmpty(spark.sparkContext, 60000L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val owner = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      val parent = (for {
        p <- props; q <- Option(p.getProperty(QueryProp)); b <- Option(p.getProperty(BatchProp))
      } yield batchSpan.getOrElseUpdate((q, b.toLong),
        newSpan(owner, "microbatch", s"batch $b", e.time * 1000L)).id).getOrElse(owner)
      val js = newSpan(parent, "job", s"job ${e.jobId}", e.time * 1000L)
      jobSpan(e.jobId) = js
      e.stageIds.foreach(st => stageJob(st) = js)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.get(e.jobId).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val s = stageSpan.getOrElseUpdate((i.stageId, i.attemptNumber()),
        newSpan(stageJob.get(i.stageId).fold(0)(_.id), "stage", s"stage ${i.stageId}",
          i.submissionTime.getOrElse(0L) * 1000L))
      s.startUs = i.submissionTime.getOrElse(0L) * 1000L
      s.endUs = i.completionTime.getOrElse(0L) * 1000L
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stageSpan.getOrElseUpdate((e.stageId, e.stageAttemptId),
        newSpan(stageJob.get(e.stageId).fold(0)(_.id), "stage", s"stage ${e.stageId}",
          e.taskInfo.launchTime * 1000L))
      taskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += e.taskInfo.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        s.add("tasks", 1)
        s.add("task_s", m.executorRunTime / 1e3)
        s.add("task_cpu_s", m.executorCpuTime / 1e9)
        s.add("gc_s", m.jvmGCTime / 1e3)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        s.add("spill_memory_bytes", m.memoryBytesSpilled.toDouble)
        s.add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        s.add("output_records", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      lock.synchronized {
        planning += ((Util.nowUs(), ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val dur = p.durationMs.asScala
      lock.synchronized {
        progress += p
        val s = batchSpan.getOrElseUpdate((p.id.toString, p.batchId),
          newSpan(0, "microbatch", s"batch ${p.batchId}", startUs))
        s.startUs = startUs
        s.endUs = startUs + dur.get("triggerExecution").map(_.longValue).getOrElse(0L) * 1000L
        s.add("input_rows", p.numInputRows.toDouble)
        dur.foreach { case (k, v) => s.add(s"${k}_ms", v.doubleValue) }
      }
    }
  }

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Deliver pending events, then detach the listeners. */
  def stop(): Unit = if (on) {
    barrier()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(listener)
    on = false
  }

  def all: Seq[Span] = lock.synchronized(spans.toList)

  def spansIn(kind: String, from: Span): Seq[Span] =
    all.filter(s => s.kind == kind && s.startUs >= from.startUs && s.startUs <= from.endUs)

  /** Self time per span kind: each span's duration minus the part of it
    * its children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.filter(_.endUs >= 0).groupBy(_.kind).map { case (kind, group) =>
      kind -> group.map { s =>
        val covered = covers(kids.getOrElse(s.id, Nil).filter(_.endUs >= 0)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
        math.max(0L, s.durUs - covered) / 1e6
      }.sum
    }
  }

  def writeJson(path: java.io.File): Unit = {
    val ss = all
    val rows = ss.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "counts" -> s.counts)
    }
    java.nio.file.Files.write(path.toPath, Util.utf8(Util.json(rows)))
  }

  /** JVM heap peak since [[resetJvm]], and GC time. */
  def resetJvm(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Total length of the union of intervals. */
  def covers(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
