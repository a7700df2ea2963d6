package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame

/** Small helpers shared by the workloads: clocks, quantiles, JSON, files. */
object Util {

  /** Wall clock in epoch microseconds: the one time base of every span,
    * so driver spans and listener event times (epoch millis) compare.
    */
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU seconds of the whole process (every thread, JIT and GC too). */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** CPU seconds of the calling thread. */
  def threadCpuS(): Double = threads.getCurrentThreadCpuTime / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Quantile with linear interpolation between closest ranks (q in [0,1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Run the DataFrame's physical plan to completion without letting
    * Catalyst prune projections the way `count()` would.
    */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def writeAtomically(dir: File, name: String, bytes: Array[Byte]): Unit = {
    val tmp = new File(dir.getParentFile, s".${dir.getName}-$name.tmp")
    Files.write(tmp.toPath, bytes)
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Minimal JSON encoder for maps, sequences, strings, numbers, booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append("\\" + "u").append(f"${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
