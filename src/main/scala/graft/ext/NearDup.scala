package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.{IndexFamily, IndexLifecycle, PersistedIndex, Tables, Warehouse}
import graft.core.IndexLifecycle.{Run, Step}

/** The near-duplicate core over `documents`, shared by the SimHash,
  * pHash and MinHash families:
  *
  *  - the 64-bit Hamming band kernel: a signature is sliced into four
  *    16-bit band values, rows sharing a band value become candidates
  *    (an equi-join, so pair work is bucket-bounded, never all-pairs),
  *    and candidates are kept within a Hamming bound. SimHash's banded
  *    self-join, pHash's batch self-join and pHash's index probe all run
  *    through it. At a bound ≤ 3 the banding is lossless (pigeonhole:
  *    four bands, so at most three can differ); SimHash's bound of 6 is
  *    a recall trade-off.
  *  - one document-postings index family per signature ([[DocIndex]],
  *    a `core.IndexFamily`): the `core.PersistedIndex` store, its seed
  *    root and tag, and its postings builder; the batch-0 writer, the
  *    `doc_id < 400` seed, append, compaction and rebuild-from-corpus are
  *    written once here.
  *  - the document steps of the `core.IndexLifecycle` scenario that every
  *    `q_/s_minhash_*` and `q_/s_phash_*` entry declares.
  */
object NearDup {

  // ---- the 64-bit Hamming band kernel ----------------------------------

  private val Bands = 4

  /** (band, bv, doc_id, `sig`): one row per 16-bit band of each 64-bit
    * signature in a (doc_id, `sig`) frame. The mask keeps the low 16
    * bits, where logical and arithmetic shifts agree.
    */
  def bandRows(sigs: DataFrame, sig: String): DataFrame =
    sigs.select(col("doc_id"), col(sig), posexplode(array((0 until Bands).map(k =>
        shiftrightunsigned(col(sig), k * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bv")))
      .select(col("band"), col("bv"), col("doc_id"), col(sig))

  /** Hamming-verify banded candidates (two id columns, then the two
    * signatures `sa`, `sb`). A pair sharing several bands surfaces once.
    */
  private def withinHamming(cands: DataFrame, maxHamming: Int): DataFrame = {
    val Array(a, b, _, _) = cands.columns
    cands.distinct()
      .select(col(a), col(b),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Banded self-join of a (doc_id, `sig`) frame: (doc_a < doc_b,
    * hamming) for every pair within `maxHamming` that shares a band.
    */
  def hammingPairs(sigs: DataFrame, sig: String, maxHamming: Int): DataFrame = {
    val b = bandRows(sigs, sig)
    withinHamming(b.alias("x")
      .join(b.alias("y"), col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col(s"x.$sig").as("sa"), col(s"y.$sig").as("sb")), maxHamming)
  }

  /** Banded probe of a (doc_id, `sig`) batch against [[bandRows]]
    * postings: (doc_id, dup_of, hamming) within `maxHamming`.
    */
  def hammingProbe(probe: DataFrame, postings: DataFrame, sig: String,
      maxHamming: Int): DataFrame =
    withinHamming(bandRows(probe, sig)
      .join(postings.select(col("band"), col("bv"), col("doc_id").as("dup_of"), col(sig).as("sb")),
        Seq("band", "bv"))
      .select(col("doc_id"), col("dup_of"), col(sig).as("sa"), col("sb")), maxHamming)

  // ---- the document-postings index families ---------------------------

  /** A persisted near-dup index family over `documents`: `postings` maps
    * a (doc_id, text) frame to the rows one batch persists. Every family
    * seeds over `doc_id < 400` under `<root>/<fixture tag>`, and every
    * mutator runs `store`'s commit protocol.
    */
  final case class DocIndex(store: PersistedIndex, root: String,
      postings: DataFrame => DataFrame) extends IndexFamily {

    val table = "documents"

    def write(dir: String, docs: DataFrame): Unit = writeKeeping(dir, docs, Seq.empty)

    /** The seed and rebuild writer: the postings of `docs` as the single
      * batch 0; `keepIngestKeys` rides in its one manifest commit.
      */
    private def writeKeeping(dir: String, docs: DataFrame, keepIngestKeys: Seq[String]): Unit = {
      postings(docs)
        .withColumn("batch_id", lit(0L))
        .write.mode("overwrite").partitionBy("batch_id")
        .parquet(new java.io.File(dir, store.data).getPath)
      PersistedIndex.writeManifest(dir, PersistedIndex.Manifest(Seq(0L), ingestKeys = keepIngestKeys))
    }

    /** One-time seed over the sub-400 corpus slice under
      * `<root>/<fixture tag of documents>` (marker-gated, untimed
      * economics like the Derby/IVF seeds).
      */
    def seed(spark: SparkSession, sfDir: String): (String, Long) =
      (Warehouse.ensureSeed(new java.io.File(root, Tables.fixtureTag("v1", sfDir, "documents"))) { dir =>
        write(dir, Tables(spark, sfDir, "documents").filter(col("doc_id") < 400))
      }, 400L)

    /** Postings are written in the batch's own session. */
    def append(spark: SparkSession, dir: String, docs: DataFrame,
        ingestKey: Option[String]): Unit =
      store.append(dir, ingestKey) { (path, m) =>
        postings(docs).write.mode("overwrite").parquet(path)
        m
      }

    /** Merge the committed batches into one, dropping tombstoned rows:
      * every append adds a `batch_id` directory of small files that each
      * probe opens. Probes are row-identical before and after.
      */
    def compact(spark: SparkSession, dir: String): Unit =
      store.compact(spark, dir) { (rows, path, m) =>
        rows.coalesce(8).write.mode("overwrite").parquet(path)
        m
      }

    /** Rebuild from the doc store: the SURVIVING ids (committed postings
      * minus the tombstone ledger) are looked up in `corpus` and their
      * postings rewritten as one batch. Postings are one-way hashes, so
      * the content cannot come from the index itself. A rebuild is also
      * a materializing compaction, and MinHash's collapses cross-batch
      * exact duplicates that per-batch appends could not see.
      */
    def rebuild(dir: String, corpus: DataFrame): Unit =
      store.rebuild(corpus.sparkSession, dir) { live =>
        corpus.join(live.select(col("doc_id")).distinct(), Seq("doc_id"))
          .select(col("doc_id"), col("text"))
      } { (content, stage, keys) => writeKeeping(stage, content, keys) }
  }

  /** MinHash band postings (band, bh, doc_id) under /tmp/graft_minhash. */
  val MinhashIndex: DocIndex = DocIndex(PersistedIndex("minhash", "postings", "doc_id"),
    "/tmp/graft_minhash", docs => Dedup.minhashPostings(docs))

  /** pHash band postings (band, bv, doc_id, ph) under /tmp/graft_phash:
    * the full signature rides beside its band value, so the Hamming
    * verify is index-local.
    */
  val PhashIndex: DocIndex = DocIndex(PersistedIndex("phash", "postings", "doc_id"),
    "/tmp/graft_phash", docs => bandRows(Multimodal.sigsOf(docs.sparkSession, docs), "ph"))

  // ---- the document-index lifecycle steps ------------------------------

  private def ingested(r: Run): Column = r.slice(400, 450)

  /** Append documents [400, 450) as one batch. */
  val Ingest: Step = IndexLifecycle.Append(r => r.corpus.filter(ingested(r)))

  /** Stream documents [400, 450) in, one keyed append per micro-batch. */
  val StreamIn: Step = IndexLifecycle.Stream(ingested)

  /** Delete the smallest index doc the entry's untapped probe matches. */
  val Takedown: Step = IndexLifecycle.Takedown { r =>
    import r.spark.implicits._
    val victim = r.probe(None).agg(min(col("dup_of"))).head()
    if (victim.isNullAt(0)) None else Some(Seq(victim.getLong(0)).toDF("doc_id"))
  }

  /** The first document an entry's probe batch holds: the ones past the
    * ingested documents, if `steps` ingest any.
    */
  def probeFrom(steps: Seq[Step]): Long =
    if (steps.exists(Seq(Ingest, StreamIn).contains)) 450L else 400L
}
