package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.cdc.Cdc

/** The nightly merge restore (README.md:222-252), day after day:
  * `Cdc.latestState` over the day's change set, `Cdc.mergeSnapshot`
  * against yesterday's snapshot, and the result written as the new
  * snapshot that the next day reads back. One day is one operation.
  */
object MergeJob {
  val Schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType),
    StructField("ts", LongType), StructField("op", StringType), StructField("id", LongType)))
  val Cols = Seq("v", "ts", "op", "id")

  /** Publish generator CSV as the parquet table the merge reads. */
  def publish(spark: SparkSession, csv: java.lang.StringBuilder, dir: File): Unit = {
    val staging = new File(dir.getPath + ".csv")
    staging.mkdirs()
    Util.writeAtomically(staging, "part-0.csv", Util.utf8(csv.toString))
    spark.read.schema(Schema).csv(staging.getPath).write.parquet(dir.getPath)
    Util.deleteRecursively(staging)
  }

  def merged(spark: SparkSession, snapshot: String, delta: String): DataFrame =
    Cdc.mergeSnapshot(spark.read.parquet(snapshot),
      Cdc.latestState(spark.read.parquet(delta), "k", "ts", "id"), "k", Cols)

  def digest(df: DataFrame): Gen.Digest = {
    val h = xxhash64(col("k"), col("v"), col("ts"), col("op"), col("id"))
    val r = df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")),
      sum(shiftrightunsigned(col("h"), 33))).head()
    Gen.Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

final class MergeRestore(ctx: Ctx) extends Workload {
  val entities: Int = if (ctx.tiny) 20000 else 300000
  val changes: Int = if (ctx.tiny) 10000 else 120000
  private var gen: Gen.MergeDays = _
  private var snapshot: File = _
  private var day = 0

  def generate(): Unit = {
    gen = new Gen.MergeDays(ctx.seed, entities, changes)
    snapshot = ctx.freshDir("snapshot")
    snapshot.delete()
    MergeJob.publish(ctx.spark, gen.snapshotCsv(), snapshot)
    day = 0
  }

  /** The first four days, on the real snapshot: they are not samples, and
    * the measured days continue from their result. After two, the first
    * measured days still ran up to 50% slower than the later ones.
    */
  def warm(): Unit = (1 to 4).foreach(_ => runDay(ctx.noTrace))

  /** One nightly merge; returns its seconds, process CPU seconds, output
    * and expected digest.
    */
  private def runDay(rec: Recorder): (Double, Double, File, Gen.Digest) = {
    day += 1
    val delta = ctx.freshDir(s"delta-$day"); delta.delete()
    rec.span("op", s"publish day $day")(MergeJob.publish(ctx.spark, gen.deltaCsv(day), delta))
    val next = ctx.freshDir(s"snapshot-$day"); next.delete()
    val cpu0 = Util.processCpuS()
    val (_, s) = Util.timed(rec.span("op", s"day $day") {
      MergeJob.merged(ctx.spark, snapshot.getPath, delta.getPath).write.parquet(next.getPath)
    })
    snapshot = next
    val cpuS = Util.processCpuS() - cpu0
    (s, cpuS, next, gen.expectedDigest())
  }

  /** A fixed number of days for the run's length, so every run merges the
    * same sequence of snapshot sizes whatever the host's speed.
    */
  def measure(seconds: Int, rec: Recorder): Measured = {
    val (days, error) = Main.repeat(math.max(Main.MinOps, math.round(seconds / MergeRestore.DayS).toInt))(
      _ => runDay(rec))
    ctx.outputDirs ++= days.map(_._3)
    if (ctx.corrupt == "snapshot")
      days.lastOption.toSeq.flatMap(d => Option(d._3.listFiles()).toSeq.flatten)
        .find(_.getName.endsWith(".parquet")).foreach(_.delete())
    val failures = days.map { case (_, _, dir, want) => Main.check {
      val got = MergeJob.digest(ctx.spark.read.parquet(dir.getPath))
      if (got == want) None else Some(s"snapshot digest differs: $got vs $want")
    } } ++ error.map(Some(_))
    val times = days.map(_._1)
    Measured(times.map(_ * 1000.0), changes / Util.median(times), Util.median(days.map(_._2)) * 1e6 / changes,
      attempted = failures.size, failed = failures.count(_.isDefined), failures.flatten.headOption)
  }

  private var probeInputs: Map[String, Any] = Map.empty

  def props: Map[String, Any] = gen.props ++ probeInputs ++
    Map("loop" -> "closed", "snapshot_rows" -> gen.keys)

  def probe(rec: Recorder): (Map[String, Double], Seq[Option[String]]) = {
    val c = Probe.corpus(ctx)
    val (dedup, checks) = Probe.dedup(ctx, rec, c)
    probeInputs = c.props.map { case (k, v) => s"probe.$k" -> v }
    (Probe.merge(ctx) ++ dedup, checks)
  }
}

object MergeRestore {
  /** Wall seconds of one day with its delta's publication, at full size
    * on a 4-vCPU VM: the run length one measured day stands for.
    */
  val DayS = 2.5
}
