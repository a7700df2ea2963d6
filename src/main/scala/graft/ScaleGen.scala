package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Local fixture generator (not part of the driver contract). Three modes:
  *
  *   runMain graft.ScaleGen <srcSfDir> <outDir> <factor> [table,...]
  *     Replicate the sf fixtures N× with shifted keys into outDir, so
  *     operators can be profiled at ~sf2+ without touching the read-only
  *     testdata. The optional 4th arg restricts generation to a table
  *     subset (e.g. `documents` for a 100x dedup-family run that skips
  *     the 60M-row lineitem replica).
  *
  *   runMain graft.ScaleGen longdocs <outDir> <nDocs> <tokPerDoc>
  *     Long-document (doc_id, text) corpus for production-width (50-token)
  *     span dedup; see [[longDocs]].
  *
  *   runMain graft.ScaleGen blob <outDir> <nBlobs> <mbPerBlob>
  *     N deterministic MiB-scale `<id>.bin` objects for the binaryFile
  *     ingestion path (q_binary_ingest's projection at production object
  *     sizes); see [[writeBlobs]].
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    // Session conf lives in core.Harness (one certified base for all
    // mains). ScaleGen's deltas: no 4m split cap (it writes replicas;
    // source-read split width is irrelevant), no streaming state store /
    // codegen sizing.
    val spark = graft.core.Harness.session("32",
      splitSmallFiles = false, certifiedStreaming = false, codegenCache = None)
    args(0) match {
      case "longdocs" =>
        val (out, nDocs, tokPerDoc) = (args(1), args(2).toLong, args(3).toInt)
        longDocs(spark, nDocs, tokPerDoc).repartition(32)
          .write.mode("overwrite").parquet(out)
        println(s"[scalegen] longdocs: $nDocs docs x $tokPerDoc tokens -> $out")
      case "blob" =>
        val (out, nBlobs, mbPer) = (args(1), args(2).toInt, args(3).toInt)
        writeBlobs(spark, out, nBlobs, mbPer)
        println(s"[scalegen] blob: $nBlobs x $mbPer MiB -> $out")
      case _ => replicateAll(spark, args)
    }
    spark.stop()
  }

  /** Deterministic long-document corpus: ~9% exact copies (doc_id % 11
    * == 1 copies its predecessor), and docs whose content seed c has
    * c % 7 == 3 share a 120-token window (keyed by c % 5) at positions
    * 300-419 — so width-50 spans exist across DISTINCT documents,
    * exercising the gram-index path, not just the whole-doc-copy branch
    * (ScaleGenSpec pins both properties). Every other token is a
    * per-(seed, position) word. `tokPerDoc` must exceed 420 for the
    * shared window to exist.
    */
  def longDocs(spark: SparkSession, nDocs: Long, tokPerDoc: Int): DataFrame =
    spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("c",
        when(col("doc_id") % 11 === 1, col("doc_id") - 1).otherwise(col("doc_id")))
      .withColumn("text", expr(
        s"""concat_ws(' ', transform(sequence(0, $tokPerDoc - 1),
           |  i -> CASE WHEN c % 7 = 3 AND i >= 300 AND i < 420
           |            THEN concat('s', c % 5, '_', i)
           |            ELSE concat('w', pmod(c * 48271 + i * 40503, 999999937)) END))""".stripMargin))
      .select("doc_id", "text")

  /** Write `nBlobs` objects of `mbPer` MiB each as `<out>/<id>.bin`
    * (byte j of object id = (id * 31 + j) % 251), replacing `out`.
    * Read them back with `spark.read.format("binaryFile")
    * .option("pathGlobFilter", "*.bin")`.
    */
  private def writeBlobs(spark: SparkSession, out: String, nBlobs: Int, mbPer: Int): Unit = {
    import spark.implicits._
    val dir = new java.io.File(out)
    graft.core.Warehouse.deleteRecursively(dir)
    dir.mkdirs()
    val path = dir.getPath
    val bytesPer = mbPer * 1024 * 1024
    spark.range(nBlobs).as[Long].foreachPartition { it: Iterator[Long] =>
      it.foreach { id =>
        val buf = new Array[Byte](bytesPer)
        var j = 0
        while (j < bytesPer) { buf(j) = ((id * 31 + j) % 251).toByte; j += 1 }
        java.nio.file.Files.write(java.nio.file.Paths.get(path, s"$id.bin"), buf)
        ()
      }
    }
  }

  private def replicateAll(spark: SparkSession, args: Array[String]): Unit = {
    val (src, out, fStr) = (args(0), args(1), args(2))
    val factor = fStr.toInt
    val onlyTables: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    def wanted(name: String): Boolean = onlyTables.forall(_.contains(name))

    def replicate(name: String, keyCols: Seq[String]): Unit = if (wanted(name)) {
      val df = core.Tables(spark, src, name)
      val copies = spark.range(factor).withColumnRenamed("id", "__copy")
      val shifted0 = keyCols.foldLeft(df.crossJoin(copies)) { (d, k) =>
        d.withColumn(k, col(k) + col("__copy") * lit(1000000000L))
      }.drop("__copy")
      // Tables() reads events.ts as raw TIMESTAMP(NANOS) int64; write the
      // replica in the same physical shape.
      val shifted =
        if (name == "events") shifted0.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
        else shifted0
      if (name == "events") {
        // The streaming sources glob `events.parquet` as a single FILE
        // (the driver-fixture shape); a parquet DIRECTORY reads 0 rows
        // there. Write one part and move it into place so s_* entries can
        // be profiled at scale too.
        val tmp = s"$out/_events_tmp"
        shifted.coalesce(1).write.mode("overwrite").parquet(tmp)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        val dest = new org.apache.hadoop.fs.Path(s"$out/$name.parquet")
        fs.delete(dest, true)
        fs.rename(part, dest)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      } else {
        shifted.write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
      println(s"[scalegen] $name x$factor -> ${shifted.count()} rows")
    }
    def copy(name: String): Unit = if (wanted(name))
      core.Tables(spark, src, name).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    Seq("region", "nation", "customer", "supplier", "part").foreach(copy)
    replicate("orders", Seq("o_orderkey"))
    replicate("lineitem", Seq("l_orderkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"))
    replicate("embeddings", Seq("vec_id"))
  }
}
