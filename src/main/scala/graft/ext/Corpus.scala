package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, QueryModule, Tables}

/** Corpus-construction operators for a training-data pipeline over
  * `documents` — the steps between "filtered documents" and "training
  * batches": benchmark decontamination, token packing into fixed-budget
  * sequences, TF-IDF term weighting, and target-mixture resampling.
  *
  * Scale design: decontamination shuffles 8-byte xxhash64 gram digests
  * (never the text); packing is a per-shard (source-partitioned) window,
  * so shards pack in parallel instead of through one global running sum;
  * TF-IDF's shuffles are vocabulary-sized after map-side partial
  * aggregation; the mixture sampler is a row-local integer-hash threshold
  * against broadcast per-source rates. Nothing here carries a document
  * body through an exchange except the sampler's pass-through of selected
  * rows.
  */
object Corpus extends QueryModule {

  /** Benchmark decontamination (the n-gram-overlap flavor every LLM
    * pipeline runs before training): documents sharing any 8-word shingle
    * with the held-out eval set (here: every 50th doc_id) are flagged.
    * Shingles are compacted scan-side to an xxhash64 digest (r18 — was
    * unhex(md5): the digest is internal to both engine and oracle, which
    * compares raw gram strings, so the allocation-free hash and the
    * 8-byte — not 16-byte — key change no output row), so the semi-join
    * shuffles (digest, doc_id) pairs at 8 bytes of key per gram, never
    * text. Docs
    * shorter than 8 words contribute their whole text as one shingle
    * (the q_minhash_near_dup convention).
    *
    * Collision bound: with D distinct shingles corpus-wide, about
    * D²/2⁶⁵ pairs of them share a 64-bit digest (~2.7·10⁴ at D = 10¹²).
    * Each such pair is a possible false contamination flag: a document
    * whose shingle only collides with an eval shingle is flagged and its
    * `n_shared` counts the collision. At fixture scale (D < 10⁶) the
    * expected count is below 10⁻⁷.
    */
  private def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    // spread (r17): the 8-gram digest explode is scan-side on both legs.
    val d = Tables.spread(spark, sfDir, "documents").withColumn("w", split(col("text"), " "))
    val grams = d.select(col("doc_id"), explode(Dedup.gramDigests(8)).as("gh"))
    val evalGrams = grams.filter(col("doc_id") % 50 === 0).select("gh").distinct()
    val hits = grams.filter(col("doc_id") % 50 =!= 0)
      .join(evalGrams, "gh")
      .groupBy("doc_id").agg(countDistinct(col("gh")).as("n_shared"))
    d.filter(col("doc_id") % 50 =!= 0).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Token budget per packed training sequence. */
  private val PackBudget = 512L

  /** Greedy sequence packing: concatenate each shard's documents in
    * doc_id order and cut every PackBudget tokens; a document occupies
    * token interval [start, start+n) and therefore lands in sequences
    * floor(start/B) .. floor((start+n-1)/B). The running sum is windowed
    * PER SOURCE SHARD, so at 100 TB every shard packs independently in
    * parallel — a single global ORDER BY would serialize the corpus
    * through one partition (and real pipelines pack per shard anyway so
    * that shards stay independently reproducible and resumable).
    */
  private def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .withColumn("start_tok", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tok"), col("start_tok"),
        expr(s"start_tok div $PackBudget").as("first_seq"),
        expr(s"(start_tok + n_tok - 1) div $PackBudget").as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + lit(1L))
      .orderBy("doc_id")
  }

  /** TF-IDF top terms: tf over the scored slice, document frequency over
    * the WHOLE corpus (the statistic that must be global), smoothed
    * ln((N+1)/(df+1)) weighting, top-3 terms per document. Both counts
    * partial-aggregate before their shuffles, so exchanged rows are
    * vocabulary-sized; the single-row corpus count is a broadcast.
    */
  private def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val terms = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.filter(col("doc_id") < 50)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rn"))
      .orderBy("doc_id", "rn")
  }

  /** BM25 query terms (fixed, like q_tfidf's scored slice — a retrieval
    * query is a handful of terms by nature). */
  private val Bm25Query = Seq("spark", "join", "merge")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 ranking — the retrieval twin of q_tfidf (and the lexical half
    * of a hybrid-search stack next to q_similarity_topk): score every
    * document against a fixed term query with Okapi BM25 (k1=1.2,
    * b=0.75), emit the top 10.
    *
    * Scale design: the query-term filter lands scan-side, so the tf
    * aggregate's exchange carries only (doc_id, term∈query) rows —
    * |query| terms per doc at most, never the vocabulary; df reduces to
    * |query| rows and broadcasts; the corpus length stats are one
    * broadcast row (same discipline as q_collocations' totals). Doc
    * length joins tf on doc_id — co-partitioned with the tf aggregate's
    * own exchange. Every input to the score is integer-derived (tf, df,
    * N, dl exact; avgdl = exact-int sum / count), so the ln/divide chain
    * is IEEE-identical cross-engine; round(4) before the rank order makes
    * the top-10 cut deterministic with the doc_id tiebreak.
    */
  private def bm25(spark: SparkSession, sfDir: String): DataFrame =
    bm25Scores(spark, sfDir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)

  /** (doc_id, score) for every document matching >= 1 query term —
    * shared with q_hybrid_rank's lexical leg (ext/Similarity.scala).
    */
  private[graft] def bm25Scores(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val toks = d.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val dl = toks.select(col("doc_id"), size(col("toks")).cast(LongType).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(Bm25Query))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val weight = idf * (col("tf") * (Bm25K1 + 1.0)) /
      (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(round(sum(weight), 4).as("score"))
  }

  /** Target-mixture resampling (domain mixing): even-numbered sources get
    * 3x the weight of odd ones; per-source keep rates are DERIVED from
    * the corpus (rate_s ∝ weight_s / n_s, normalized so the most
    * under-represented weighted source keeps everything), then applied as
    * a row-local integer-hash threshold. Pure multiply/divide/modulo is
    * IEEE-identical across engines (unlike transcendental-heavy scoring),
    * and the Knuth multiplicative hash keeps membership reproducible
    * across reruns, engines, and cluster sizes — same argument as
    * q_split_train_test, decorrelated from its md5 by construction.
    */
  private def domainMix(spark: SparkSession, sfDir: String): DataFrame =
    domainMixOf(Tables(spark, sfDir, "documents"))

  /** Testable core of q_domain_mix (CorpusSpec feeds it hostile source
    * names). try_cast, not CAST: Spark 4 runs ANSI mode, where a plain
    * cast of a non-numeric source suffix is a task-killing runtime error —
    * any source named outside the fixture's `srcN` shape must degrade to
    * the default weight, not crash the pipeline (the json_get
    * malformed-input lesson applied to casts). NULL % 2 = 0 is NULL, so
    * the `when` falls through to the 1.0 fallback.
    */
  private[graft] def domainMixOf(docs: DataFrame): DataFrame = {
    val weight: Column =
      when(expr("try_cast(substring(source, 4) AS INT) % 2 = 0"), lit(3.0)).otherwise(lit(1.0))
    val rates = docs
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("wpd", weight / col("n_docs"))
    val maxWpd = rates.agg(max(col("wpd")).as("max_wpd"))
    val withRate = rates.crossJoin(broadcast(maxWpd))
      .select(col("source"), (col("wpd") / col("max_wpd")).as("rate"))
    // 16-bit Knuth multiplicative hash with the id reduced into the field
    // FIRST: Spark 4 runs ANSI mode, so doc_id * k must not overflow a
    // long for any id the pipeline will ever see (same reduced-field rule
    // as Dedup's 1e9+7 prime — the unreduced form crashed at 20x scale
    // where replica ids are large).
    docs
      .join(broadcast(withRate), "source")
      .withColumn("bucket", expr("((doc_id % 65536) * 40503) % 65536"))
      .filter(col("bucket") < floor(col("rate") * 65536.0))
      .select(col("doc_id"), col("source"), col("bucket"))
      .orderBy("doc_id")
  }

  /** Chunk size / stride for q_chunk_tokens. Real embedding pipelines run
    * 128-512-token windows; the fixture's docs top out at ~99 tokens, so
    * the registered config is 32/8 — small enough that the MULTI-chunk
    * fan-out and the tail-chunk boundary arithmetic actually execute
    * under the DuckDB oracle instead of every doc degenerating to one
    * chunk. The operator is config-independent integer arithmetic.
    */
  private val ChunkTokens = 32L
  private val ChunkOverlap = 8L

  /** Overlapping token-window chunking — the step between curation and
    * embedding: each document becomes ceil((n - overlap) / stride) chunks
    * of ChunkTokens tokens with ChunkOverlap-token overlap, emitted as
    * (doc_id, chunk_id, tok_start, tok_len) spans. Row-local generator
    * (sequence + explode — no shuffle; the chunk count is pure integer
    * arithmetic on the token count), and the emitted rows carry OFFSETS,
    * not text: at 100 TB the chunk table is id+3 ints per row, and the
    * encoder slices the original column by span at read time.
    */
  private def chunkTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val stride = ChunkTokens - ChunkOverlap
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .withColumn("n_chunks",
        // ceil((n_tok - overlap) / stride) via the add-then-floor form —
        // SQL `div` truncates toward zero, so the negate-and-divide ceil
        // trick is wrong for the short-doc negative case.
        greatest(lit(1L), expr(s"(n_tok - $ChunkOverlap + $stride - 1) div $stride")))
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("n_tok"), col("chunk_id"),
        (col("chunk_id") * stride).as("tok_start"),
        least(lit(ChunkTokens), col("n_tok") - col("chunk_id") * stride).as("tok_len"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Per-group capped sampling — the per-domain cap a corpus mixer applies
    * before training (no single source may contribute more than k docs):
    * keep the k docs per source with the smallest DETERMINISTIC hash —
    * uniform-without-replacement per group, reproducible across engines,
    * reruns, and cluster sizes (no rand(), same argument as
    * q_split_train_test). Cost at scale: ONE shuffle on the group key, and
    * the rank filter plans WindowGroupLimit (pinned in PlanSpec), so every
    * map task forwards at most k rows per group INTO the exchange — the
    * shuffle carries ~k·sources rows, not the corpus.
    */
  private def sampleKPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 20
    Tables(spark, sfDir, "documents")
      .withColumn("bucket", expr("((doc_id % 65536) * 40503) % 65536"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("bucket"), col("doc_id"))).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("source"), col("bucket"), col("rn"))
      .orderBy("source", "rn")
  }

  /** Weighted sampling without replacement, k per source — the mixture-
    * weighting op a data-recipe pipeline runs ("sample longer/higher-
    * quality docs proportionally more"): the Efraimidis–Spirakis
    * exponential-key method, rank by key = u^(1/w) with u a
    * hash-derived uniform and w the document's weight (here n_words),
    * take top-k per group. One row-local projection + one per-group
    * top-k window on a single source exchange — at 100 TB identical
    * shape to q_sample_k_per_group, and the keys make the sample both
    * DETERMINISTIC (no rand(); re-runs and engines agree) and provably
    * weight-proportional (P(i in sample) follows w_i — the E-S result).
    * Keys are floor-truncated to 6 dp before ranking with doc_id as the
    * full tiebreak, keeping the order off cross-engine pow() ulp
    * divergence.
    *
    * Testable core of q_weighted_sample (CorpusSpec drives it with a
    * controlled heavy-doc corpus to pin the E-S inclusion law).
    */
  private[graft] def weightedSampleOf(docs: DataFrame, k: Int): DataFrame =
    docs
      .withColumn("w", size(split(col("text"), " ")).cast(DoubleType))
      // u in (0,1): a splitmix-ish integer hash of doc_id, never 0. The
      // id is reduced mod p BEFORE the multiply — identical output
      // ((a mod p)·c mod p == a·c mod p) but the intermediate stays
      // < 2^63 at ScaleGen id ranges (ids ~9e9 × 2.65e9 overflowed ANSI
      // long arithmetic; caught by the r12 bench failed-list at sf1).
      .withColumn("u",
        (pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L) + lit(12345L),
          lit(2147483647L)).cast(DoubleType) + lit(1.0)) / lit(2147483648.0))
      .withColumn("key", floor(pow(col("u"), lit(1.0) / col("w")) * 1e6) / 1e6)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("key").desc, col("doc_id"))).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("source"), col("w").cast(LongType).as("n_words"),
        col("key"), col("rn"))
      .orderBy("source", "rn")

  private def weightedSample(spark: SparkSession, sfDir: String): DataFrame =
    weightedSampleOf(Tables(spark, sfDir, "documents"), k = 25)

  /** Per-document token entropy — the information-density curation signal
    * (low entropy = repetitive/templated text): H = ln(n) - Σ c·ln(c) / n
    * over word counts c. Row-local, no explode, no shuffle — at 100 TB a
    * pure scan — via the compiled token_entropy kernel (an r5 HOF
    * `aggregate()` fold computed the same sum but evaluated INTERPRETED,
    * ~8x its scan-bound neighbors at 20x; TokenEntropySpec pins the kernel
    * bit-identical to that fold, and functions/TokenEntropy.scala
    * documents the equivalence discipline). Floor-truncated to 4 decimals
    * (cross-engine double-sum convention).
    */
  private def entropy(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.TokenEntropy.register(spark)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        (floor(expr("token_entropy(text)") * 10000) / 10000).as("entropy"))
      .orderBy("doc_id")
  }

  /** Unigram LM cross-entropy scoring — the KenLM-shaped fluency signal
    * (high xent = tokens the corpus LM finds surprising), with the LM
    * trained on the corpus itself in the same pass: xent(d) =
    * ln(N) - Σ ln(c_w) / |d| over corpus-wide unigram counts c_w.
    * Scale: both aggregates partial-agg before their shuffles, so the
    * exchanged rows are vocabulary-sized (not token-sized); the
    * single-row corpus total is an explicit broadcast. At 100 TB the
    * count join keys on the term — the same vocabulary-sized exchange as
    * q_tfidf's df side. Floor-truncated to 4 decimals (the cross-engine
    * double-sum convention, same as q_entropy).
    */
  private def lmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val lm = w.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = lm.agg(sum(col("c")).cast("double").as("n"))
    w.join(lm, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(log(col("c"))).as("slc"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tok"),
        (floor((log(col("n")) - col("slc") / col("n_tok")) * 10000) / 10000).as("xent"))
      .orderBy("doc_id")
  }

  /** The composite curation gate — the decision every pipeline's filter
    * stage actually emits: a document survives if it passes the length,
    * stopword-ratio, and duplicate-word gates TOGETHER. Every predicate is
    * an exact integer ratio comparison (IEEE division of identical inputs
    * is identical across engines), so the verdict is deterministic. One
    * scan, row-local, survivors forwarded — the composition glue over
    * q_text_quality / q_gopher_quality that downstream training consumes.
    */
  private def curationGate(spark: SparkSession, sfDir: String): DataFrame = {
    val stopList = Seq("the", "a").map(s => s"'$s'").mkString(", ")
    Tables(spark, sfDir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("n_stop",
        size(expr(s"filter(w, x -> x IN ($stopList))")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("w"))).cast("long"))
      .filter(col("n_words").between(10, 200) &&
        col("n_stop").cast("double") / col("n_words") < 0.3 &&
        (lit(1.0) - col("n_uniq").cast("double") / col("n_words")) < 0.3)
      .select(col("doc_id"), col("lang"), col("source"), col("n_words"))
      .orderBy("doc_id")
  }

  /** Per-label mean embedding — the class-centroid / domain-embedding
    * aggregate (the seed step of semantic mixing, clustering and drift
    * monitoring over a 100 TB embedding corpus). Shape: posexplode +
    * groupBy(label, pos) — fully inside whole-stage codegen, and the
    * hash aggregate PARTIALLY aggregates map-side, so despite the ×dim
    * row amplification only (tasks × labels × dim) scalar buffers ever
    * cross the exchange. Measured against a typed Aggregator carrying a
    * dim-length array buffer per group (Udafs.CentroidAgg; SURVEY §2.2's
    * q_embed_centroids row): the codegen'd explode shape won at every
    * fixture scale, including row-cardinality group counts (0.54 s vs
    * 1.30 s warm at 100×) — the per-row object encoder costs more than
    * the wider hash state saves, so "functions, not UDFs" holds even for
    * array-valued aggregation.
    */
  private def embedCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "embeddings")
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), (col("pos") + 1).cast(LongType).as("pos"))
      .agg(round(avg(col("col").cast(DoubleType)), 4).as("mean_v"),
        count(lit(1)).as("n_vecs"))
      .orderBy("label", "pos")

  /** Per-dimension z-score standardization of the embedding corpus —
    * the feature-scaling step every ML pipeline runs before
    * distance-based ops (and the reason semantic indexes assume
    * comparable dimensions). Stats are ONE posexplode + groupBy(pos)
    * hash aggregate (the codegen shape q_embed_centroids A/B'd —
    * partial-agg'd map-side, 64 buffers per task cross the exchange);
    * variance is the explicit avg(v²)−avg(v)² formula so both engines
    * compute the same IEEE expression rather than their own Welford
    * variants. The normalization itself is row-local against the
    * broadcast 64-row stats table; the entry emits the five lowest
    * vec_ids' standardized vectors (long format) with the per-dim
    * stats riding along — the bounded proof the transform applied.
    */
  private def featureScale(spark: SparkSession, sfDir: String): DataFrame = {
    val ex = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").cast(DoubleType).as("v"))
    val stats = ex.groupBy("pos")
      .agg(avg(col("v")).as("mean_v"), avg(col("v") * col("v")).as("mean_sq"))
      .select(col("pos"), col("mean_v"),
        sqrt(col("mean_sq") - col("mean_v") * col("mean_v")).as("std_v"))
    ex.filter(col("vec_id") < 5)
      .join(broadcast(stats), "pos")
      .select(col("vec_id"), col("pos"),
        round(col("mean_v"), 6).as("mean_v"),
        round(col("std_v"), 6).as("std_v"),
        round((col("v") - col("mean_v")) / col("std_v"), 4).as("z"))
      .orderBy("vec_id", "pos")
  }

  /** Int8 scalar quantization of the embedding corpus — the storage-layer
    * op between raw float32 vectors (256 B) and PQ codes (8 B): per-dim
    * min/max (ONE posexplode + groupBy(pos) codegen hash aggregate, the
    * q_feature_scale shape — map-side partials, 64 buffers/task cross the
    * exchange), then a ROW-LOCAL affine encode against the broadcast
    * 64-row stats table:
    *   code = floor((v − mn) / (mx − mn) · 255 + 0.5)  ∈ [0, 255]
    * plus a reconstruction-error audit (err = |v − decode(code)|) and the
    * per-dim worst case. `floor(x + 0.5)` instead of round(): floor is a
    * single unambiguous IEEE op on both engines, so there is no
    * rounding-mode (HALF_UP vs half-even) or signed-zero trap anywhere in
    * the code path — every input is a single IEEE expression evaluated in
    * the same order cross-engine, and the audit maxes are order-free
    * (max, not sum). Constant dims (mx == mn) encode to 0 by convention,
    * guarded identically in both engines.
    *
    * Scale shape: stats are one partial-agg'd exchange of 64·tasks scalar
    * buffers; encode + decode + err are row-local; the per-dim max err is
    * the same 64-buffer aggregate again. At 100 TB the quantized corpus
    * is written alongside the manifest the IVF index family maintains —
    * this entry is the certified kernel. Output is bounded: the 5 lowest
    * vec_ids' codes with the per-dim stats + worst-case riding along.
    */
  private def embedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val ex = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").cast(DoubleType).as("v"))
    val stats = ex.groupBy("pos").agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val q = ex.join(broadcast(stats), "pos")
      .withColumn("code",
        when(col("mx") > col("mn"),
          floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 255.0 + 0.5))
          .otherwise(lit(0.0)).cast(LongType))
      .withColumn("err",
        abs(col("v") - (col("mn") +
          (col("code").cast(DoubleType) / 255.0) * (col("mx") - col("mn")))))
    val dimErr = q.groupBy("pos").agg(max(col("err")).as("dim_max_err"))
    q.filter(col("vec_id") < 5)
      .join(broadcast(dimErr), "pos")
      .select(col("vec_id"), col("pos"),
        round(col("mn"), 6).as("v_min"), round(col("mx"), 6).as("v_max"),
        col("code"),
        round(col("err"), 6).as("err"),
        round(col("dim_max_err"), 6).as("dim_max_err"))
      .orderBy("vec_id", "pos")
  }

  /** Random-projection output width (64 → 16). */
  private val ProjOut = 16
  private val ProjIn = 64

  /** lowbias32-style integer mixer (two xor-shift-multiply rounds mod
    * 2³²) as a SQL fragment — the hash behind the deterministic sign
    * matrix and the negative-sampling rank. Plain LCG/additive hashes
    * measurably FAIL both uses (see [[embedProject]] /
    * [[negativeSample]]); every intermediate here stays < 2⁶³ so ANSI
    * long arithmetic never overflows. `n` must be a non-negative
    * BIGINT expression; reduce wide inputs mod 2³² first.
    */
  private def mix32Spark(n: String): String = {
    val n0 = s"(($n) % 4294967296)"
    val x1 = s"(((shiftright($n0, 16) ^ $n0) * 73244475) % 4294967296)"
    val x2 = s"(((shiftright($x1, 16) ^ $x1) * 73244475) % 4294967296)"
    s"(shiftright($x2, 16) ^ $x2)"
  }

  /** DuckDB twin of [[mix32Spark]] (xor() function — `^` is POWER in
    * DuckDB).
    */
  private def mix32Duck(n: String): String = {
    val n0 = s"(($n) % 4294967296)"
    val x1 = s"((xor($n0 >> 16, $n0) * 73244475) % 4294967296)"
    val x2 = s"((xor($x1 >> 16, $x1) * 73244475) % 4294967296)"
    s"xor($x2 >> 16, $x2)"
  }

  /** Sign random projection (Achlioptas ±1 / Johnson–Lindenstrauss):
    * project the 64-dim embedding corpus to [[ProjOut]] dims with a
    * DETERMINISTIC pseudo-random sign matrix, s(i,j) = ±1 from an
    * integer hash of (i, j) — the dimensionality-reduction step that
    * makes downstream ANN/clustering cheaper per vector while
    * approximately preserving angles (receipt measures the cosine
    * error). The matrix is a FORMULA, not data: both engines (and every
    * executor) derive s(i,j) independently — nothing is broadcast,
    * nothing random at runtime, re-runs are bit-identical.
    *
    * The hash is the lowbias32 shape (two xor-shift-multiply rounds mod
    * 2³²; every intermediate < 2⁶³ so ANSI long arithmetic never
    * overflows). A plain LCG-parity matrix measurably FAILS here:
    * parity of n·48271 mod 65537 alternates with n (odd step ⇒ parity
    * flip), making adjacent matrix cells anticorrelated — measured mean
    * |cos distortion| 0.42 vs 0.19 for this mixer (ideal random ±1:
    * 0.20). The spec pins the distortion bound so a weak hash cannot
    * sneak back in.
    *
    * Scale shape: row-local (one scan, zero row shuffles — the only
    * exchange is the bounded oracle ORDER BY); the projection runs as
    * the native codegen [[graft.functions.SignProject]] expression
    * (forward-pass accumulation, so the IEEE sum order is pinned). The
    * first cut was Spark's transform/aggregate higher-order functions —
    * retired after the 100× receipt showed HOF lambdas are INTERPRETED
    * (~2.5k rows/s/core); the kernel expression is the same move as
    * CosineSim/SimHash64. Long output form (vec_id, pos, v) keeps the
    * oracle hashable column-by-column.
    */
  private def embedProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        posexplode(graft.functions.SignProject.proj(col("embedding"), ProjOut)))
      .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("pos"),
        round(col("col") / math.sqrt(ProjOut), 4).as("v"))
      .orderBy("vec_id", "pos")

  /** DuckDB twin of the lowbias32 sign formula (xor() function — `^` is
    * POWER in DuckDB).
    */
  private val projOracle: String = {
    val x3 = mix32Duck(s"(i * $ProjOut + j + 1)")
    s"""
      WITH t AS (
        SELECT vec_id, CAST(j.range AS BIGINT) AS j, CAST(i.range AS BIGINT) AS i,
               CAST(embedding[CAST(i.range AS INTEGER) + 1] AS DOUBLE) AS x
        FROM embeddings, range(0, $ProjOut) j, range(0, $ProjIn) i),
      p AS (
        SELECT vec_id, j,
               round(sum(CASE WHEN $x3 % 2 = 0 THEN x ELSE -x END)
                     / ${math.sqrt(ProjOut)}, 4) + 0 AS v
        FROM t GROUP BY vec_id, j)
      SELECT vec_id, CAST(j + 1 AS BIGINT) AS pos, v FROM p
      ORDER BY vec_id, pos"""
  }

  /** Negative-sampling batch bound and negatives per anchor. */
  private val NegAnchors = 20L
  private val NegK = 4

  /** Deterministic negative sampling — the contrastive-training step
    * (in-batch negatives / triplet mining): every anchor document in a
    * bounded batch draws [[NegK]] pseudo-random corpus negatives via a
    * per-(anchor, candidate) integer hash rank. Hash ranking instead of
    * `rand()` keeps the draw exactly reproducible cross-engine and
    * cross-run (the same determinism rule as q_split_train_test /
    * q_weighted_sample — no rand() anywhere in the registry), while
    * still being uniform-ish per anchor (distinct anchors draw
    * uncorrelated sets; spec checks overlap).
    *
    * Scale shape: identical to q_knn_join — anchors (ids only)
    * broadcast, the corpus scanned ONCE reading ONLY doc_id (column
    * pruning to a single column), per-anchor selection via the
    * k-bounded [[graft.functions.Udafs.TopKAgg]] exchange. The rank key
    * is [[mix32Spark]] of (anchor·1000003 + candidate·7919): a plain
    * additive hash FAILED the uncorrelated-anchors spec (no wraparound
    * at fixture id ranges ⇒ every anchor ranked candidates
    * identically and drew the SAME 4 negatives) — the mixer decouples
    * the orders. h < 2³² so its negation is exact in the double sim
    * slot, and all intermediates fit ANSI longs at ScaleGen id ranges.
    */
  private def negativeSample(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents").select("doc_id")
    val anchors = d.filter(col("doc_id") < NegAnchors)
      .select(col("doc_id").as("anchor_id"))
    val corpus = d.filter(col("doc_id") >= NegAnchors)
    val topk = udaf(new graft.functions.Udafs.TopKAgg(NegK),
      org.apache.spark.sql.Encoders.product[graft.functions.Udafs.ScoredId])
    val h = mix32Spark("anchor_id * 1000003 + doc_id * 7919")
    corpus.crossJoin(broadcast(anchors))
      .select(col("anchor_id"), col("doc_id"),
        expr(s"cast(-($h) as double)").as("s"))
      .groupBy("anchor_id")
      .agg(topk(col("s"), col("doc_id")).as("nn"))
      .select(col("anchor_id"), posexplode(col("nn")))
      .select(col("anchor_id"), (col("pos") + 1).cast(LongType).as("neg_rank"),
        col("col.id").as("neg_doc_id"), (-col("col.sim")).cast(LongType).as("h"))
      .orderBy("anchor_id", "neg_rank")
  }

  override val defs: Map[String, QueryDef] = Map(
    "q_negative_sample" -> QueryDef(negativeSample, Some(s"""
      WITH a AS (SELECT doc_id AS anchor_id FROM documents WHERE doc_id < $NegAnchors),
      c AS (SELECT doc_id FROM documents WHERE doc_id >= $NegAnchors),
      h AS (SELECT anchor_id, doc_id,
                   ${mix32Duck("anchor_id * 1000003 + doc_id * 7919")} AS h
            FROM a, c),
      r AS (SELECT anchor_id, doc_id, h,
                   row_number() OVER (PARTITION BY anchor_id ORDER BY h, doc_id) AS neg_rank
            FROM h)
      SELECT anchor_id, CAST(neg_rank AS BIGINT) AS neg_rank,
             doc_id AS neg_doc_id, h
      FROM r WHERE neg_rank <= $NegK ORDER BY anchor_id, neg_rank""")),
    "q_embed_project" -> QueryDef(embedProject, Some(projOracle)),
    "q_embed_quantize" -> QueryDef(embedQuantize, Some("""
      WITH ex AS (
        SELECT vec_id, unnest(embedding)::DOUBLE AS v,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings),
      s AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM ex GROUP BY pos),
      q AS (
        SELECT e.vec_id, e.pos, e.v, s.mn, s.mx,
               CAST(CASE WHEN s.mx > s.mn
                    THEN floor((e.v - s.mn) / (s.mx - s.mn) * 255.0 + 0.5)
                    ELSE 0.0 END AS BIGINT) AS code
        FROM ex e JOIN s USING (pos)),
      r AS (
        SELECT vec_id, pos, mn, mx, code,
               abs(v - (mn + (code / 255.0) * (mx - mn))) AS err
        FROM q),
      d AS (SELECT pos, max(err) AS dim_max_err FROM r GROUP BY pos)
      SELECT r.vec_id, r.pos, round(r.mn, 6) + 0 AS v_min,
             round(r.mx, 6) + 0 AS v_max, r.code,
             round(r.err, 6) AS err,
             round(d.dim_max_err, 6) AS dim_max_err
      FROM r JOIN d USING (pos) WHERE r.vec_id < 5
      ORDER BY vec_id, pos""")),
    "q_feature_scale" -> QueryDef(featureScale, Some("""
      WITH ex AS (
        SELECT vec_id, unnest(embedding)::DOUBLE AS v,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings),
      s AS (SELECT pos, avg(v) AS mean_v,
                   sqrt(avg(v * v) - avg(v) * avg(v)) AS std_v
            FROM ex GROUP BY pos)
      SELECT e.vec_id, e.pos, round(s.mean_v, 6) + 0 AS mean_v,
             round(s.std_v, 6) AS std_v,
             round((e.v - s.mean_v) / s.std_v, 4) + 0 AS z
      FROM ex e JOIN s USING (pos) WHERE e.vec_id < 5
      ORDER BY vec_id, pos""")),
    "q_embed_centroids" -> QueryDef(embedCentroids, Some("""
      WITH ex AS (
        SELECT label, unnest(embedding)::DOUBLE AS v,
               unnest(range(1, len(embedding) + 1)) AS pos
        FROM embeddings),
      m AS (SELECT label, pos, round(avg(v), 4) + 0 AS mean_v
            FROM ex GROUP BY label, pos),
      n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
      SELECT m.label, m.pos, m.mean_v, n.n_vecs
      FROM m JOIN n USING (label) ORDER BY label, pos""")),
    "q_chunk_tokens" -> QueryDef(chunkTokens, Some("""
      WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, n_tok,
               greatest(1, (n_tok - 8 + 24 - 1) // 24) AS n_chunks
        FROM t),
      x AS (
        SELECT doc_id, n_tok, unnest(range(0, n_chunks)) AS chunk_id FROM c)
      SELECT doc_id, n_tok, chunk_id,
             chunk_id * 24 AS tok_start,
             least(32, n_tok - chunk_id * 24) AS tok_len
      FROM x ORDER BY doc_id, chunk_id""")),
    "q_weighted_sample" -> QueryDef(weightedSample, Some("""
      WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
               (CAST(((doc_id % 2147483647) * 2654435761 + 12345) % 2147483647 AS DOUBLE) + 1.0)
                 / 2147483648.0 AS u
        FROM documents),
      keyed AS (
        SELECT doc_id, source, w,
               floor(pow(u, 1.0 / w) * 1e6) / 1e6 AS key
        FROM t),
      r AS (
        SELECT doc_id, source, CAST(w AS BIGINT) AS n_words, key,
               row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rn
        FROM keyed)
      SELECT doc_id, source, n_words, key, rn FROM r WHERE rn <= 25
      ORDER BY source, rn""")),
    "q_sample_k_per_group" -> QueryDef(sampleKPerGroup, Some("""
      WITH h AS (
        SELECT doc_id, source, ((doc_id % 65536) * 40503) % 65536 AS bucket
        FROM documents),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id) AS rn
        FROM h)
      SELECT doc_id, source, bucket, rn FROM r WHERE rn <= 20
      ORDER BY source, rn""")),
    "q_lm_score" -> QueryDef(lmScore, Some("""
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      lm AS (SELECT w, count(*) AS c FROM w GROUP BY w),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM lm),
      s AS (SELECT doc_id, count(*) AS n_tok, sum(ln(c)) AS slc
            FROM w JOIN lm USING (w) GROUP BY doc_id)
      SELECT doc_id, n_tok, floor((ln(tot.n) - slc / n_tok) * 10000) / 10000 AS xent
      FROM s, tot ORDER BY doc_id""")),
    "q_entropy" -> QueryDef(entropy, Some("""
      WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      c AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
      t AS (SELECT doc_id, sum(c) AS n, sum(c * ln(c)) AS s FROM c GROUP BY doc_id)
      SELECT doc_id, CAST(n AS BIGINT) AS n_words,
             floor((ln(n) - s / n) * 10000) / 10000 AS entropy
      FROM t ORDER BY doc_id""")),
    "q_curation_gate" -> QueryDef(curationGate, Some("""
      WITH t AS (
        SELECT doc_id, lang, source,
               len(string_split(text, ' ')) AS n_words,
               len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS n_stop,
               len(list_distinct(string_split(text, ' '))) AS n_uniq
        FROM documents)
      SELECT doc_id, lang, source, CAST(n_words AS BIGINT) AS n_words FROM t
      WHERE n_words BETWEEN 10 AND 200
        AND CAST(n_stop AS DOUBLE) / n_words < 0.3
        AND 1.0 - CAST(n_uniq AS DOUBLE) / n_words < 0.3
      ORDER BY doc_id""")),
    "q_decontaminate" -> QueryDef(decontaminate, Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_transform(range(0, CAST(greatest(len(w) - 8, 0) + 1 AS INTEGER)),
                 i -> array_to_string(w[CAST(i + 1 AS INTEGER):CAST(i + 8 AS INTEGER)], ' '))) AS g8
        FROM d),
      ev AS (SELECT DISTINCT g8 FROM g WHERE doc_id % 50 = 0),
      hits AS (
        SELECT g.doc_id, count(DISTINCT g.g8) AS n_shared
        FROM g JOIN ev USING (g8) WHERE g.doc_id % 50 <> 0 GROUP BY g.doc_id)
      SELECT t.doc_id, coalesce(h.n_shared, 0) AS n_shared,
             coalesce(h.n_shared, 0) > 0 AS contaminated
      FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) t
      LEFT JOIN hits h USING (doc_id)
      ORDER BY doc_id""")),
    "q_pack_sequences" -> QueryDef(packSequences, Some("""
      WITH t AS (
        SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, source, n_tok,
               CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        FROM t)
      SELECT doc_id, source, n_tok, start_tok,
             start_tok // 512 AS first_seq,
             (start_tok + n_tok - 1) // 512 AS last_seq,
             (start_tok + n_tok - 1) // 512 - start_tok // 512 + 1 AS n_seqs
      FROM c ORDER BY doc_id""")),
    "q_bm25" -> QueryDef(bm25, Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
      st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
             WHERE term IN ('spark', 'join', 'merge') GROUP BY doc_id, term),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      SELECT doc_id,
             round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 10""")),
    "q_tfidf" -> QueryDef(tfidf, Some("""
      WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM terms
        WHERE doc_id < 50 GROUP BY doc_id, term),
      dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
      n AS (SELECT count(*) AS n_docs FROM documents),
      s AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
               round(tf.tf * ln((n.n_docs + 1.0) / (dfq.df + 1.0)), 4) AS score
        FROM tf JOIN dfq USING (term), n),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        FROM s)
      SELECT doc_id, term, tf, df, score, rn FROM r WHERE rn <= 3
      ORDER BY doc_id, rn""")),
    "q_domain_mix" -> QueryDef(domainMix, Some("""
      WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      r0 AS (
        SELECT source,
               (CASE WHEN TRY_CAST(substring(source, 4) AS INTEGER) % 2 = 0
                     THEN 3.0 ELSE 1.0 END) / n_docs AS wpd
        FROM c),
      r AS (SELECT source, wpd / (SELECT max(wpd) FROM r0) AS rate FROM r0)
      SELECT d.doc_id, d.source, ((d.doc_id % 65536) * 40503) % 65536 AS bucket
      FROM documents d JOIN r USING (source)
      WHERE ((d.doc_id % 65536) * 40503) % 65536 < floor(rate * 65536.0)
      ORDER BY doc_id""")))
}
