package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.Dedup
import graft.ops.Graph

/** Near-duplicate clustering: `Dedup.minhashSignatures` →
  * `Dedup.lshCandidates` → `Graph.ccOn` component labels over the
  * candidate edges; each step is a child span.
  */
object NearDupJob {
  final case class Run(seconds: Double, signatureS: Double, candidateS: Double, componentS: Double,
      rounds: Int, pairs: Array[(Long, Long)], labels: Map[Long, Long])

  def publish(spark: SparkSession, tsv: java.lang.StringBuilder, dir: File): Unit = {
    val staging = new File(dir.getPath + ".tsv")
    staging.mkdirs()
    Util.writeAtomically(staging, "part-0.tsv", Util.utf8(tsv.toString))
    spark.read.schema(StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .option("sep", "\t").csv(staging.getPath).write.parquet(dir.getPath)
    Util.deleteRecursively(staging)
  }

  def run(spark: SparkSession, docs: String, rec: Recorder): Run = {
    val t0 = System.nanoTime()
    val (sigs, sigS) = Util.timed(rec.span("op", "signatures") {
      Dedup.minhashSignatures(spark.read.parquet(docs)).localCheckpoint(true)
    })
    val (cands, candS) = Util.timed(rec.span("op", "candidates") {
      Dedup.lshCandidates(sigs).localCheckpoint(true)
    })
    val ((labels, rounds), ccS) = Util.timed(rec.span("op", "components") {
      val edges = cands.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(cands.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      Graph.ccOn(edges)
    })
    val total = (System.nanoTime() - t0) / 1e9
    val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1)))
    val lbl = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Run(total, sigS, candS, ccS, rounds, pairs, lbl)
  }

  /** Reference labels: a driver-side union-find over the same edges,
    * labelling each node with its component's smallest id.
    */
  def unionFind(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Compare a run's labels with [[unionFind]] over its own candidate
    * edges. `corrupt` changes one label first (smoke-test corruption).
    */
  def check(r: Run, corrupt: Boolean): Option[String] = {
    val want = unionFind(r.pairs)
    val got = if (corrupt && r.labels.nonEmpty) {
      val (k, v) = r.labels.maxBy(_._1)
      r.labels.updated(k, v + 1)
    } else r.labels
    if (got == want) None
    else Some(s"component labels differ from union-find on ${
      (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} nodes")
  }
}
