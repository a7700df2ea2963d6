package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one versioned-snapshot store: version `n` of a snapshot is the dir
  * `<root>/v<n>`, staged as `.v<n>` and renamed atomically, so it is
  * visible exactly when its rename is done and committing `n` again (a
  * replayed micro-batch, a retry after a crash) replaces it: the
  * epoch-keyed idempotent sink of Structured Streaming (SIGMOD 2018).
  * q_time_travel and `BoundedStream.foldSnapshots` commit through it.
  */
object Versions {

  private val Committed = "v(\\d+)".r

  private def dir(root: String, n: Long): java.io.File = new java.io.File(root, s"v$n")

  /** Commit `df` as version `n` of `root`: write it to `.v<n>`, drop any
    * earlier `v<n>`, then rename the staging dir onto `v<n>`.
    */
  def commit(root: String, n: Long, df: DataFrame): Unit = {
    val staging = new java.io.File(root, s".v$n")
    df.write.mode("overwrite").parquet(staging.getPath)
    Warehouse.deleteRecursively(dir(root, n))
    java.nio.file.Files.move(staging.toPath, dir(root, n).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The newest committed version under `root` older than `below`. */
  def newest(root: String, below: Long = Long.MaxValue): Option[Long] =
    Option(new java.io.File(root).list()).getOrElse(Array.empty[String])
      .collect { case Committed(k) if k.toLong < below => k.toLong }
      .maxOption

  /** Read committed version `n` of `root`; refuses one never renamed. */
  def read(spark: SparkSession, root: String, n: Long): DataFrame = {
    require(dir(root, n).isDirectory, s"uncommitted version $n of $root")
    spark.read.parquet(dir(root, n).getPath)
  }
}
