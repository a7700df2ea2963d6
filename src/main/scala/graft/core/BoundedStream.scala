package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one runner for bounded streams: every `s_*` entry and index
  * ingest leg starts its query here, with `Trigger.AvailableNow` (process
  * what the source holds, then stop) over the given checkpoint or a fresh
  * [[TempDirs]] one, awaited, and stopped if still active. Exactly-once is a
  * checkpoint plus an idempotent sink; the sinks the callers share are
  * below. As the only `start()`, it is the one place to read progress.
  */
object BoundedStream {

  /** State partitions of a bounded smoke run. Each state partition opens
    * and commits one state-store instance per micro-batch; on small
    * fixtures that fixed cost dominates. The r17 paired receipt measured
    * the stateful family at widths 8/4/2 and kept 8.
    */
  val SmallStateWidth = 8

  /** `width`, if given, sets the state partitions for this run. */
  private def run(df: DataFrame, checkpoint: String, width: Option[Int])(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val key = "spark.sql.shuffle.partitions"
    SessionConf.scoped(df.sparkSession, key,
        width.fold(df.sparkSession.conf.get(key))(_.toString)) {
      val q = sink(df.writeStream)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      // AvailableNow ends the query itself; stopping an ended one logs a
      // "Failed to cancel job group" WARN.
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }
  }

  private def freshCheckpoint(): String = TempDirs.create("graft_ckpt")

  /** Run `df` into a memory sink with `width` state partitions and
    * return the sink's contents.
    */
  def toMemory(df: DataFrame, mode: String, width: Int = SmallStateWidth): DataFrame = {
    val name = "ms_" + java.util.UUID.randomUUID().toString.replace("-", "")
    run(df, freshCheckpoint(), Some(width))(
      _.format("memory").queryName(name).outputMode(mode))
    df.sparkSession.table(name)
  }

  /** Run `df` into the reference's `partitionBy("dt")` parquet sink and
    * count rows per `dt` as a reader of the sink directory sees them.
    * `dt` stays a string (inference would make "20240105" an int); the
    * read infers its partition schema eagerly, inside the scoped conf.
    */
  def dtCounts(df: DataFrame): DataFrame =
    SessionConf.scoped(df.sparkSession,
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false") {
      val out = TempDirs.create("graft_dt_sink")
      run(df, freshCheckpoint(), None)(
        _.format("parquet").partitionBy("dt").option("path", out).outputMode("append"))
      df.sparkSession.read.parquet(out)
        .groupBy(col("dt")).agg(count(lit(1)).as("n"))
        .orderBy("dt")
    }

  /** Run `df` with `f(batch, batchId)` as its sink. */
  def eachBatch(df: DataFrame, checkpoint: String = freshCheckpoint(),
      mode: String = "append", width: Option[Int] = None)(
      f: (DataFrame, Long) => Unit): Unit =
    run(df, checkpoint, width)(_.outputMode(mode).foreachBatch(f))

  /** Fold each micro-batch into a [[Versions]] snapshot under `root`;
    * returns the last one. Batch N commits version N = `merge(v<k>,
    * delta(batch))` for the newest committed k < N (just the delta if
    * none). State lives on disk, so a restart from `checkpoint` resumes,
    * and a replayed batch rebuilds version N from the same k without
    * double counting.
    */
  def foldSnapshots(df: DataFrame, root: String = TempDirs.create("graft_fold"),
      checkpoint: String = freshCheckpoint())(
      delta: DataFrame => DataFrame)(merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    eachBatch(df, checkpoint) { (batch, n) =>
      val d = delta(batch)
      Versions.commit(root, n, Versions.newest(root, n)
        .fold(d)(k => merge(Versions.read(batch.sparkSession, root, k), d)))
    }
    Versions.read(df.sparkSession, root,
      Versions.newest(root).getOrElse(sys.error("no batch ran")))
  }

  /** Stream `df` into a persisted index: `append(batch, ingestKey)` runs
    * the family's `*IndexAppend` per non-empty micro-batch. BatchIds
    * restart at 0 with every checkpoint, so the key also names the
    * checkpoint (as a name-based UUID: no `,` or `"` for the manifest
    * ledger); a restart from the same checkpoint replays the same keys.
    */
  def appendStream(df: DataFrame, checkpoint: String = freshCheckpoint())(
      append: (DataFrame, String) => Unit): Unit = {
    val scope = java.util.UUID.nameUUIDFromBytes(new java.io.File(checkpoint)
      .getCanonicalPath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    eachBatch(df, checkpoint) { (b, batchId) =>
      if (!b.isEmpty) append(b, s"stream-$scope-$batchId")
    }
  }
}
