package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.cdc.Cdc

/** Fixed-sample layer probes of the traced run. They time the engine's
  * public CDC functions one prefix at a time (each prefix's time minus
  * the previous prefix's, so a step cheaper than the timing noise can
  * read below zero), and cluster a fixed corpus for the `graft.ext` and
  * `graft.ops` layers, which no listed workload runs. Each layer metric
  * comes from one probe on one workload.
  */
object Probe extends AdaptiveSparkPlanHelper {
  private val Reps = 5

  /** Fastest of [[Reps]] runs: the least noisy reading of a short job. */
  private def best(body: => Unit): Double = (1 to Reps).map(_ => Util.timed(body)._2).min

  private def prefixTimes(dfs: Seq[DataFrame]): Seq[Double] = {
    val t = dfs.map(df => best(Util.materialize(df)))
    t.head +: t.sliding(2).map { case Seq(a, b) => b - a }.toSeq
  }

  /** Writes the probe topic: 8 files of envelopes from the run's seed. */
  private def topic(ctx: Ctx): File = {
    val dir = ctx.freshDir("probe-topic")
    val g = new Gen.Envelopes(ctx.seed + 7)
    val perFile = if (ctx.tiny) 500 else 5000
    (0 until 8).foreach { f =>
      val sb = new java.lang.StringBuilder
      (0 until perFile).foreach(i => g.append(sb, Gen.Day0Ms + (f.toLong * perFile + i) * 10L))
      Util.writeAtomically(dir, f"part-$f%05d.json", Util.utf8(sb.toString))
    }
    dir
  }

  /** The ingest path's steps on the probe topic. */
  def ingest(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val topicDir = topic(ctx)
    val parsed = Cdc.parseEnvelope(spark.read.text(topicDir.getPath))
    val kept = Cdc.ddlFilter(parsed)
    val flat = Cdc.flatten(kept, CdcJob.PayloadCols)
    val withDt = flat.withColumn("dt", Cdc.eventTimeDt(col("es")))
    val Seq(parse, ddl, flatten, dt) = prefixTimes(Seq(parsed, kept, flat, withDt))
    val nParsed = Util.materialize(parsed).toDouble
    val nKept = Util.materialize(kept).toDouble
    val nRows = Util.materialize(flat).toDouble
    val dead = withDt.filter(col("dt") === "00000000").count().toDouble
    Map(
      "cdc.parse_s" -> parse, "cdc.ddl_filter_s" -> ddl, "cdc.flatten_s" -> flatten,
      "cdc.event_time_dt_s" -> dt,
      "cdc.fanout" -> nRows / math.max(1.0, nKept),
      "cdc.ddl_dropped_share" -> (1.0 - nKept / math.max(1.0, nParsed)),
      "cdc.dead_letter_rows" -> dead)
  }

  /** One merge of a fixed 100k-entity snapshot and 50k-change delta. */
  def merge(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val g = new Gen.MergeDays(ctx.seed + 7, if (ctx.tiny) 10000 else 100000, if (ctx.tiny) 5000 else 50000)
    val snapDir = ctx.freshDir("probe-snapshot"); snapDir.delete()
    val deltaDir = ctx.freshDir("probe-delta"); deltaDir.delete()
    MergeJob.publish(spark, g.snapshotCsv(), snapDir)
    MergeJob.publish(spark, g.deltaCsv(1), deltaDir)
    val snap = spark.read.parquet(snapDir.getPath)
    val delta = spark.read.parquet(deltaDir.getPath)
    val latest = Cdc.latestState(delta, "k", "ts", "id")
    val merged = Cdc.mergeSnapshot(snap, latest, "k", MergeJob.Cols)
    val Seq(latestS, mergeS) = prefixTimes(Seq(latest, merged))
    val writeS = best(merged.write.parquet(ctx.freshDir("probe-write").getPath + "/t")) -
      best(Util.materialize(merged))
    val exchanges = collect(merged.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size
    val outRows = Util.materialize(merged).toDouble
    Map(
      "cdc.latest_state_s" -> latestS, "cdc.merge_join_s" -> mergeS,
      "cdc.snapshot_write_s" -> writeS,
      "cdc.exchanges_per_merge" -> exchanges.toDouble,
      "cdc.rows_examined_per_result_row" ->
        (Util.materialize(snap) + Util.materialize(delta)).toDouble / math.max(1.0, outRows))
  }

  /** The corpus [[dedup]] clusters. */
  def corpus(ctx: Ctx): Gen.Corpus = new Gen.Corpus(ctx.seed + 7, if (ctx.tiny) 2000 else 10000)

  /** Cluster corpus `c` twice (the first run warms the driver's
    * planning) and check both runs' labels and that their candidate
    * pairs agree; layer numbers are the second run's.
    */
  def dedup(ctx: Ctx, rec: Recorder, c: Gen.Corpus): (Map[String, Double], Seq[Option[String]]) = {
    val dir = ctx.freshDir("probe-docs"); dir.delete()
    NearDupJob.publish(ctx.spark, c.tsv(), dir)
    val runs = (1 to 2).map(i => rec.span("op", s"probe cluster $i")(NearDupJob.run(ctx.spark, dir.getPath, rec)))
    rec.barrier()
    val r = runs.last
    val comp = rec.all.filter(s => s.kind == "op" && s.name == "components").last
    val jobs = rec.spansIn("job", comp).size.toDouble
    val planted = r.pairs.count { case (a, b) => c.isPlantedPair(a, b) }
    val metrics = Map(
      "ops.graph.rounds" -> r.rounds.toDouble,
      "ops.graph.jobs" -> jobs,
      "ops.graph.jobs_per_round" -> jobs / math.max(1, r.rounds),
      "ops.graph.round_s_p50" -> r.componentS / math.max(1, r.rounds),
      "ext.dedup.signature_s" -> r.signatureS,
      "ext.dedup.candidate_s" -> r.candidateS,
      "ext.dedup.candidate_pairs" -> r.pairs.length.toDouble,
      "ext.dedup.candidate_precision" -> planted.toDouble / math.max(1, r.pairs.length),
      "ext.dedup.planted_recall" -> planted.toDouble / math.max(1L, c.plantedPairs))
    val samePairs = if (runs.map(_.pairs.toSet).distinct.size == 1) None
      else Some("candidate pairs differ between runs")
    (metrics, runs.map(run => Main.check(NearDupJob.check(run, ctx.corrupt == "labels"))) :+ samePairs)
  }
}
