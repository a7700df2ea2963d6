package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{IndexLifecycle, PersistedIndex, QueryDef, QueryModule, Tables}
import graft.core.IndexLifecycle.{Compact, Rebuild, Step}

/** Deduplication family for training-data curation over `documents`:
  * exact (content-hash groupBy), n-gram Jaccard on a bounded candidate
  * set, and MinHash + LSH banding for scalable near-dup candidate
  * generation.
  *
  * Scale design: exact dedup is one hash shuffle on a 128-bit digest (the
  * digest, never the document body, is the shuffle key). MinHash is the
  * 100 TB path — per-doc signatures are computed scan-side (no shuffle),
  * only (band, bandHash, doc_id) triples shuffle, and the candidate join
  * is an equi-join on the band bucket, so work scales with collisions,
  * not with n². Jaccard verification runs only on the candidate pairs.
  */
object Dedup extends QueryModule {

  private def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Incremental ingestion dedup — the production shape of exact dedup:
    * a NEW batch (here doc_id >= 400 as the arriving slice) dedups
    * against the EXISTING corpus via its digest index (doc_id < 400),
    * plus first-wins within the batch, without ever re-reading corpus
    * text. At 100 TB the index side is the persisted 16-byte-digest
    * table a pipeline maintains across ingests (q_dedup_exact's output
    * contract); both the anti join and the within-batch window shuffle
    * digests+ids only — text never rides an exchange (PlanSpec-pinned),
    * and each new batch costs O(batch) + an index probe, never a corpus
    * re-scan.
    */
  private def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val index = d.filter(col("doc_id") < 400)
      .select(md5(col("text")).as("digest")).distinct()
    val batch = d.filter(col("doc_id") >= 400)
      .select(col("doc_id"), md5(col("text")).as("digest"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("digest")).orderBy(col("doc_id"))
    batch.join(index, Seq("digest"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("digest"))
      .orderBy("doc_id")
  }

  private def dedupExactRows(spark: SparkSession, sfDir: String): DataFrame = {
    // Survivor rows (first doc_id per content hash) — what a curation
    // pipeline actually forwards downstream.
    val d = Tables(spark, sfDir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash")).orderBy(col("doc_id"))
    d.withColumn("content_hash", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Normalization-then-exact dedup — the curation stage between raw
    * exact dedup and MinHash: case-fold, collapse whitespace runs, and
    * trim BEFORE hashing, so trivially-reformatted copies collapse
    * without paying near-dup machinery. Same scale shape as
    * q_dedup_exact: the normalization is a row-local codegen'd regexp in
    * the scan stage, and the one shuffle carries only the 128-bit digest
    * plus ids — document bodies never ride the exchange.
    *
    * Whitespace is the EXPLICIT ASCII class [ \t\n\r\f\x0B], not \s:
    * Java's \s includes U+000B where DuckDB's RE2 \s does not, so a
    * vertical-tab document would normalize (and group) differently in
    * engine vs oracle. The explicit class makes the two engines
    * bit-identical by construction. Scope is ASCII-only by design —
    * Unicode spaces (U+00A0 NBSP etc.) are NOT collapsed by either
    * engine; NBSP-reformatted copies stay distinct.
    */
  private def dedupNormalized(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("norm", trim(regexp_replace(lower(col("text")), "[ \\t\\n\\r\\f\\x0B]+", " ")))
      .groupBy(md5(col("norm")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** URL-level dedup + per-host caps — the web-corpus front door
    * UPSTREAM of [[dedupNormalized]]: crawls re-fetch the same resource
    * under scheme/case/trailing-slash/tracking-param variants, so the
    * cheap first pass canonicalizes the URL (force https, lowercase
    * host, strip the trailing slash, drop the utm_*, fbclid, gclid and
    * ref params, sort the rest) and keeps one doc per canonical URL
    * plus at most K
    * docs per host (hostile hosts flood a crawl; the cap is the standard
    * C4/RefinedWeb-style guard). The fixtures carry no URL column, so
    * the raw URLs derive DETERMINISTICALLY from (doc_id, source) inside
    * the query — four planted variant classes that the normalizer must
    * collapse — with the identical expression on the oracle side; the
    * operator under test is the normalize→dedup→cap pipeline, not the
    * synthesis. Scale shape: normalization is row-local; the dedup
    * groupBy shuffles canonical-URL keys once; the host cap is one
    * host-keyed window bounded by the cap itself (a cluster-sized K
    * would take the partial-top-k path q_topk_per_group documents).
    */
  private def urlDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val canon = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("raw", expr("""
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN concat('https://', source, '.example.com/p/',
            CAST(doc_id % 25 AS STRING))
          WHEN 1 THEN concat('http://', source, '.example.com/p/',
            CAST(doc_id % 25 AS STRING), '?utm_source=rss')
          WHEN 2 THEN concat('HTTPS://', upper(source), '.Example.COM/p/',
            CAST(doc_id % 25 AS STRING), '/')
          ELSE concat('https://', source, '.example.com/p/',
            CAST(doc_id % 25 AS STRING), '?id=', CAST(doc_id % 5 AS STRING),
            '&utm_campaign=x&ref=tw')
        END"""))
      .withColumn("host",
        lower(regexp_extract(col("raw"), "^[a-zA-Z]+://([^/?]+)", 1)))
      .withColumn("path", regexp_replace(
        regexp_extract(col("raw"), "^[a-zA-Z]+://[^/?]+([^?]*)", 1), "/$", ""))
      .withColumn("qs", regexp_extract(col("raw"), "\\?(.*)$", 1))
      .withColumn("kept", expr(
        """array_join(array_sort(filter(split(qs, '&'),
          p -> p != '' AND NOT startswith(p, 'utm_')
            AND NOT split_part(p, '=', 1) IN ('fbclid', 'gclid', 'ref'))), '&')"""))
      .withColumn("url", concat(lit("https://"), col("host"), col("path"),
        when(col("kept") === "", lit("")).otherwise(concat(lit("?"), col("kept")))))
      .groupBy(col("host"), col("url"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("doc_id"))
    canon.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("host"), col("rn"), col("doc_id"), col("url"), col("n_copies"))
      .orderBy("host", "rn")
  }

  private def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // Exact word-set Jaccard on a bounded pair set (doc_id < 100) — the
    // ground-truth twin of the MinHash estimate below; top-20 most similar
    // pairs. The bound keeps the n² pair explosion out of the oracle; the
    // scalable path is q_minhash_near_dup.
    val d = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("w"))
    val a = d.alias("a")
    val b = d.alias("b")
    a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        round(
          size(array_intersect(col("a.w"), col("b.w"))).cast(DoubleType) /
            size(array_union(col("a.w"), col("b.w"))), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  // ---- substring-span dedup -------------------------------------------

  /** Default shingle width for span detection. 8 words, matching the
    * decontamination convention (ext/Corpus.scala); production runs ~50
    * tokens (Lee et al.), but the operator is width-independent integer
    * arithmetic and the fixture's ~100-token docs need a width the oracle
    * actually exercises. The registry entry uses this default; spansOf and
    * DedupSpec's naive twin take the width as a parameter — it pins
    * staged==naive and exact boundaries at width 50, and SURVEY §14
    * ("Production-width span dedup receipt") records the production width
    * over the long-document fixture `ScaleGen longdocs` writes.
    */
  private[graft] val SpanGram = 8

  /** Substring-span dedup — the last dedup granularity below document
    * level (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): find maximal token spans of >= SpanGram words that
    * also appear in at least one OTHER document, emitted as
    * (doc_id, span_id, tok_start, tok_len, n_grams) offsets for a
    * downstream span-removal pass. Built on the decontamination shingle
    * machinery: every SpanGram-word shingle is compacted scan-side to an
    * xxhash64 digest (r18 — was unhex(md5): the digest is internal to
    * both engine and oracle, which compares raw gram strings, so the
    * cheaper allocation-free hash and the 8-byte — not 16-byte — shuffle
    * key change no output row; the minhash family has always hashed
    * shingles with the same xxhash64), a digest appearing in >= 2
    * distinct docs marks its positions as duplicated, and per-doc
    * position runs merge into maximal spans via a gaps-and-islands
    * window (two hits merge iff their token ranges overlap or touch:
    * pos' - pos <= SpanGram).
    *
    * Scale shape: the duplicated-digest aggregate and the semi-join both
    * shuffle (8-byte xxhash64 digest, doc_id, pos) — never text; the
    * island merge is one thin (doc_id, pos)-rows window per doc. Docs
    * shorter than SpanGram words have no full shingle and are skipped
    * (they are exact-dedup's job, not span removal's).
    *
    * Collision bound: with D distinct shingles corpus-wide, about
    * D²/2⁶⁵ pairs of them share a 64-bit digest (~2.7·10⁴ at D = 10¹²).
    * Each such pair is a possible phantom span: a shingle that appears
    * in one document only counts as duplicated when its digest collides
    * with another document's, which adds or widens a span here and
    * raises that document's `dup_frac` in [[dedupSpanStats]]. At fixture
    * scale (D < 10⁶) the expected count is below 10⁻⁷.
    */
  private def dedupSpans(spark: SparkSession, sfDir: String): DataFrame =
    spansOf(Tables(spark, sfDir, "documents"))

  /** The digests of the `width`-word shingles of the word array column
    * `w`, in start order: xxhash64 of the space-joined words. A document
    * shorter than `width` words has one, its whole text. Span dedup and
    * decontamination shingle through it, so widening the digest is one edit.
    */
  private[graft] def gramDigests(width: Int): Column = expr(s"transform(sequence(0, " +
    s"greatest(size(w) - $width, 0)), i -> xxhash64(concat_ws(' ', slice(w, i + 1, $width))))")

  /** Gram-index span detection over the given docs, emitting hit
    * positions only for docs in `emitFor` (islands merged into maximal
    * spans). Shared by the naive twin (all docs) and the staged path
    * (representatives only).
    */
  private[graft] def spanIslands(docs: DataFrame, emitFor: DataFrame, width: Int = SpanGram): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= width)
      .select(col("doc_id"), posexplode(gramDigests(width)).as(Seq("pos", "gh")))
    val dupDigests = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gh")
    grams.join(dupDigests, Seq("gh"), "left_semi")
      .join(emitFor, Seq("doc_id"), "left_semi")
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > width, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(
        min(col("pos")).cast(LongType).as("tok_start"),
        (max(col("pos")) + width - min(col("pos"))).cast(LongType).as("tok_len"),
        count(lit(1)).as("n_grams"))
  }

  /** Staged spansOf — the 100 TB path, output-identical to the naive twin
    * (DedupSpec pins this). Same staging argument as StagedDedup, applied
    * to spans:
    *  1. a doc with an exact copy is BY CONSTRUCTION one whole-doc span —
    *     every gram is cross-doc duplicated by the copy — so members of
    *     multi-member content groups are emitted arithmetically
    *     (span_id 1, tok_start 0, tok_len n_tok, n_grams n_tok-k+1),
    *     never shingled;
    *  2. the gram index runs over one representative per distinct
    *     content. A digest is duplicated for a SINGLETON doc iff it
    *     appears in >= 2 distinct reps (a copy-group's grams are all
    *     present via its rep, so cross-group matches survive the
    *     collapse; within-group matches only ever affected the members
    *     handled by step 1);
    *  3. island spans are emitted for singleton reps only (multi-group
    *     reps already got their whole-doc span in step 1).
    * Dedup work therefore scales with DISTINCT content, exactly like
    * q_minhash_near_dup — and matches production practice, where exact
    * dedup always precedes span removal (Lee et al. §4).
    */
  private[graft] def spansOf(docs: DataFrame, width: Int = SpanGram): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val groups = StagedDedup.exactGroups(base)
    val multiMembers = groups.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_id"))
    // n_tok is computed scan-side BEFORE the membership join, so whichever
    // join strategy the planner picks, only (doc_id, n_tok) can ride an
    // exchange here — never the text.
    val wholeDoc = base
      .select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .filter(col("n_tok") >= width)
      .join(multiMembers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit(1L).as("span_id"), lit(0L).as("tok_start"),
        col("n_tok").as("tok_len"), (col("n_tok") - width + 1).as("n_grams"))
    val reps = StagedDedup.representatives(base, groups)
    val singletonReps = groups.filter(size(col("ids")) === 1)
      .select(col("rep").as("doc_id"))
    wholeDoc.unionByName(spanIslands(reps, singletonReps, width))
      .orderBy("doc_id", "span_id")
  }

  /** Per-document duplicated-content stats — the curation signal consumed
    * DOWNSTREAM of span detection: the fraction of a doc's tokens covered
    * by cross-doc duplicated spans, plus a drop flag at the 50% threshold
    * (the "mostly boilerplate / mirrored content" gate real pipelines cut
    * on, complementing whole-doc dedup which only catches full copies).
    * Maximal spans never overlap within a doc (islands), so sum(tok_len)
    * is the exact covered-token count. dup_frac floor-truncates to 4
    * decimals (the cross-engine ratio convention); the flag compares the
    * truncated value, so it is deterministic across engines too. Scale
    * cost: q_dedup_spans + one thin (doc_id, stats) aggregate. Inherits
    * the digest collision bound stated on [[dedupSpans]].
    */
  private def dedupSpanStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val perDoc = spansOf(docs)
      .groupBy(col("doc_id"))
      .agg(sum(col("tok_len")).as("dup_tokens"), count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (floor(coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType) /
          col("n_tok") * 10000) / 10000).as("dup_frac"))
      .withColumn("flag_dup", col("dup_frac") >= 0.5)
      .orderBy("doc_id")
  }

  // ---- MinHash + LSH --------------------------------------------------

  private val K = 16          // signature length
  private val RowsPerBand = 4 // => 4 bands; P(candidate) = 1-(1-j^4)^4
  private val Bands = K / RowsPerBand
  // Prime field for the permutations. Shingle hashes are first reduced
  // into [0, P) so a_i * h + b_i stays ~3e16 << Long.Max — Spark 4 runs
  // ANSI mode by default and a raw xxhash64 multiply overflows.
  private val P = 1000000007L

  // Deterministic permutation coefficients (odd multipliers).
  private val coefA = (1 to K).map(i => 2L * i * 1000003L + 1L)
  private val coefB = (1 to K).map(i => i * 7919L)

  /** One-pass compiled MinHash kernel: tokenize, 3-word shingles, xxhash64
    * (same seed-42 hash as the `xxhash64` SQL function) reduced into the
    * prime field, running min per permutation. A single while-loop per doc
    * — the expression-pipeline version of this (transform + array_min per
    * permutation) evaluated interpreted and re-walked the shingle array K
    * times per row.
    */
  private def minhashSigUdf = udf { (text: String) =>
    val mins = Array.fill(K)(Long.MaxValue)
    val toks = if (text == null) Array.empty[String] else text.split(' ').filter(_.nonEmpty)
    val nShingles = if (toks.length >= 3) toks.length - 2 else 1
    var s = 0
    while (s < nShingles) {
      val shingle =
        if (toks.length >= 3) toks(s) + " " + toks(s + 1) + " " + toks(s + 2)
        else toks.mkString(" ")
      val h = java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(shingle),
          org.apache.spark.sql.types.StringType, 42L), P)
      var i = 0
      while (i < K) {
        val v = java.lang.Math.floorMod(h * coefA(i) + coefB(i), P)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      s += 1
    }
    mins
  }

  /** doc_id + K-wide MinHash signature (`sig` array column) over 3-word
    * shingles. One scan, no shuffle.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), minhashSigUdf(col("text")).as("sig"))

  /** (doc_id, band, bh) — one row per band of each doc's signature. The
    * LSH bucket table in both its uses: self-joined for in-corpus
    * candidate pairs ([[lshCandidates]]) and PERSISTED as the postings of
    * the incremental near-dup index ([[minhashPostings]]).
    */
  private[graft] def bandBuckets(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => s"sig[${b * RowsPerBand + r}]")
      expr(s"xxhash64(concat_ws(',', ${parts.mkString(", ")}))").as(s"band$b")
    }
    sigs.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        posexplode(array((0 until Bands).map(b => col(s"band$b")): _*)).as(Seq("band", "bh")))
  }

  /** Candidate pairs via LSH banding: docs sharing any band of the
    * signature. Shuffle key is (band, bandHash) — tiny rows.
    */
  def lshCandidates(sigs: DataFrame): DataFrame = {
    val buckets = bandBuckets(sigs)
    buckets.alias("x")
      .join(buckets.alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact word-set Jaccard >= 0.8 verification of an explicit candidate
    * pair set — the DETERMINISTIC leg of the pipeline, recomputable by
    * the DuckDB oracle from the same candidates (see OracleTap).
    */
  private def verifyJaccard(cands: DataFrame, reps: DataFrame): DataFrame = {
    val words = reps.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("w"))
    cands
      .join(words.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("w", "wa"), "doc_a")
      .join(words.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("w", "wb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("wa"), col("wb"))).cast(DoubleType) /
          size(array_union(col("wa"), col("wb"))), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** LSH candidates + exact word-set Jaccard >= 0.8 verify over one
    * representative per distinct content. Shared by the staged pair
    * pipeline AND the graph clustering — the cluster components are
    * defined over exactly this pair set (DedupSpec pins that), so the
    * two must never drift apart.
    */
  private def verifiedRepPairs(reps: DataFrame): DataFrame =
    verifyJaccard(lshCandidates(minhashSignatures(reps)), reps)

  /** Staged near-dup pipeline (the 100 TB path), output-identical to the
    * naive one:
    *  1. collapse exact duplicates by content hash — within a group every
    *     pair is Jaccard 1.0 BY IDENTITY (same text ⇒ same word set), so
    *     those pairs are emitted arithmetically, never verified;
    *  2. MinHash + LSH + Jaccard verify run only on one representative
    *     per distinct content (dedup work scales with distinct docs, not
    *     with copy count);
    *  3. representative near-pairs expand back to member cross products
    *     (identical text per group ⇒ the expanded pair's Jaccard equals
    *     the representatives').
    * On a 20× corpus where every doc has 19 exact copies this turns a
    * ~1M-pair verify (278 s locally) into a ~250-pair verify.
    */
  private def minhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    StagedDedup.stagedPairs(
      Tables(spark, sfDir, "documents"), "jaccard", lit(1.0)) { reps =>
      // The seeded LSH candidate stage is the ONLY non-oracle-able leg:
      // tap it, and verify from the tap, so DuckDB recomputes the verify
      // + expansion legs from the same candidate set (partial oracle).
      verifyJaccard(
        OracleTap(reps.sparkSession, "minhash_rep_candidates",
          lshCandidates(minhashSignatures(reps))),
        reps)
    }

  // ---- cluster-id emission (the 100 TB output contract) ----------------

  /** (doc_id → cluster_id) over CANONICAL WORD-SET groups: documents with
    * the same distinct-word set (reordered / repeated-word duplicates)
    * share a cluster, bound cluster_id = min(doc_id) of the group. This
    * is the output a curation pipeline consumes — one row per document —
    * instead of the all-pairs list, whose size is quadratic in copy
    * count. Same-word-set is an EQUIVALENCE relation, so components are
    * exact groups: one shuffle on a digest of the canonical form (never
    * the document body, never n²) and a window per group.
    */
  private def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ck"))
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))).as("ck"))
      .select(col("doc_id"),
        min(col("doc_id")).over(w).as("cluster_id"),
        count(lit(1)).over(w).as("cluster_size"))
      .orderBy("doc_id")
  }

  /** (doc_id → cluster_id) as CONNECTED COMPONENTS of the verified
    * near-dup pair graph (the StagedDedup minhash pipeline above) — the
    * graph generalization of `q_dedup_clusters` for non-transitive
    * similarity. Not DuckDB-expressible (the edge set comes from seeded
    * MinHash banding), so rows-only here; DedupSpec pins equivalence
    * against a union-find ground truth over the emitted pair set.
    *
    * Staging (the same trick as StagedDedup, applied to components): the
    * components are labeled only on the REPRESENTATIVE graph — one node
    * per distinct content, edges = verified rep pairs — and members
    * inherit their representative's cluster through the group table.
    * Within-group pairs never materialize: an exact-copy clique is BY
    * CONSTRUCTION one component, and rep = min(group) makes the
    * component's min rep id equal the min member id, so the inherited
    * cluster_id is identical to labeling the full pair graph.
    * (The first version propagated over all member pairs; at 20x copy
    * factor that is ~1M clique edges for zero information — measured
    * 139 s vs a few seconds staged.)
    *
    * The labeling is [[graft.ops.Graph.ccOn]], the one connected-
    * components kernel: pointer-jumping min-label rounds to the exact
    * fixpoint, failing loudly past 64 rounds rather than emitting a
    * half-propagated labeling.
    */
  private[graft] def dedupClusterGraph(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val groups = StagedDedup.exactGroups(d)
    val reps = StagedDedup.representatives(d, groups)
    // Partial-oracle tap (r9): the verified rep-level EDGE LIST is the
    // only seed-dependent leg; connected components over it are pure
    // graph reachability, which DuckDB re-derives with a recursive CTE
    // (min reachable label per node — the same fixpoint the distributed
    // propagation converges to) and hash-matches, member expansion and
    // all. The labeling below consumes the READ-BACK tap, so the
    // emitted clusters provably derive from the rows the oracle reads.
    val repPairs = OracleTap(spark, "cluster_graph_edges",
      verifiedRepPairs(reps).select(col("doc_a"), col("doc_b")))
    // ccOn labels the src side of a symmetric edge list. One self-edge
    // per representative puts a rep with no verified pair in round 0
    // too, and a self-edge never lowers a min label.
    val edges = repPairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(repPairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .union(groups.select(col("rep").as("src"), col("rep").as("dst")))
    val (repClusters, _) = graft.ops.Graph.ccOn(edges)
    groups.select(col("rep").as("node"), explode(col("ids")).as("member"))
      .join(repClusters, "node")
      .select(col("member").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy("doc_id")
  }

  // ---- Persisted near-dup index: incremental MinHash ingest -------------
  //
  // q_dedup_incremental answers "is this new batch EXACTLY in the corpus"
  // against a persisted digest index; this is its near-dup twin — the
  // ingest-time question a 100 TB curation pipeline actually asks is "is
  // this new document a NEAR-duplicate of anything already ingested",
  // and re-running all-corpus LSH per batch (O(n) signatures re-hashed,
  // re-banded, re-shuffled) is not an option. The index persists the
  // rep-level LSH band postings ONCE; a batch probe hashes only the batch
  // (O(batch) signatures), equi-joins its band buckets against the
  // postings, and exact-Jaccard-verifies the surviving candidates — so
  // per-batch cost scales with the batch and its collisions, never the
  // corpus. The index value and its lifecycle (seed, append, takedown,
  // compaction, rebuild) is NearDup.MinhashIndex; the entries' scenario
  // is core.IndexLifecycle.

  /** Band postings of a (doc_id, text) frame: one (band, bh, doc_id) row
    * per band per REPRESENTATIVE (exact-duplicate groups collapse to
    * their min-id member first — identical text hashes to identical
    * signatures, so extra members add postings without adding recall).
    * Seed, append and rebuild all band through here, so `append ==
    * rebuild` (DedupSpec) holds even when an ingest batch carries
    * internal exact duplicates.
    */
  private[graft] def minhashPostings(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    bandBuckets(minhashSignatures(StagedDedup.representatives(d, StagedDedup.exactGroups(d))))
  }

  /** Probe the persisted index with an ingest batch: batch-side
    * signatures + banding (O(batch) hashing — the corpus is never
    * re-hashed), equi-join against the manifest-gated postings on
    * (band, bh), then exact word-set Jaccard verification of the distinct
    * (batch doc, index rep) candidates. `corpus` resolves candidate
    * texts by id — the bounded point-lookup a doc store serves in
    * production. Candidates are tapped for the partial oracle: given the
    * candidate set, DuckDB recomputes verification wholesale.
    */
  private[graft] def probeMinhashIndex(spark: SparkSession, dir: String,
      batch: DataFrame, corpus: DataFrame, tap: Option[String] = None): DataFrame = {
    val postings = NearDup.MinhashIndex.store.live(spark, dir, PersistedIndex.readManifest(dir))
      .select(col("band"), col("bh"), col("doc_id").as("dup_of"))
    val cands = bandBuckets(minhashSignatures(batch.select(col("doc_id"), col("text"))))
      .join(postings, Seq("band", "bh"))
      .select(col("doc_id"), col("dup_of")).distinct()
    val tapped = tap.fold(cands)(n => OracleTap(spark, n, cands))
    val wa = batch.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("wa"))
    val wb = corpus.select(col("doc_id").as("dup_of"),
      array_distinct(split(col("text"), " ")).as("wb"))
    tapped.join(wa, "doc_id").join(wb, "dup_of")
      .select(col("doc_id"), col("dup_of"),
        round(size(array_intersect(col("wa"), col("wb"))).cast(DoubleType) /
          size(array_union(col("wa"), col("wb"))), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("doc_id"), col("dup_of"))
  }

  /** A lifecycle entry: `steps` timed, then the documents past the
    * ingested ones Jaccard-verified against the index, with the corpus as
    * the doc store.
    */
  private def minhashEntry(tap: String, steps: Step*): QueryDef = {
    val from = NearDup.probeFrom(steps)
    QueryDef(IndexLifecycle.Scenario(NearDup.MinhashIndex, tap, steps,
      (r, t) => probeMinhashIndex(r.spark, r.dir, r.batch, r.corpus, t),
      batch = _.corpus.filter(col("doc_id") >= from)), Some(minhashTapOracle(tap)))
  }

  /** The shared MinHash verification oracle over a (doc_id, dup_of)
    * candidate tap: DuckDB recomputes the word-set Jaccard verify leg,
    * threshold, and order — one definition for every tap-producing
    * minhash entry, so the recomputed semantics can never silently
    * diverge between them.
    */
  private def minhashTapOracle(tapName: String): String = s"""
      WITH cand AS (SELECT doc_id, dup_of
                    FROM read_parquet('${OracleTap.Root}/$tapName/*.parquet')),
      w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w
            FROM documents),
      v AS (
        SELECT c.doc_id, c.dup_of,
               round(CAST(len(list_filter(list_distinct(wa.w), x -> list_contains(wb.w, x))) AS DOUBLE)
                     / len(list_distinct(wa.w || wb.w)), 4) AS jaccard
        FROM cand c
        JOIN w wa ON wa.doc_id = c.doc_id
        JOIN w wb ON wb.doc_id = c.dup_of)
      SELECT doc_id, dup_of, jaccard FROM v WHERE jaccard >= 0.8
      ORDER BY doc_id, dup_of"""

  override val defs: Map[String, QueryDef] = Map(
    // Partial oracle: the banded candidate stage (batch × index-rep) is
    // tapped; DuckDB recomputes the word-set Jaccard verification,
    // threshold, and ordering from the tap + documents.
    "q_minhash_incremental" -> minhashEntry("minhash_inc_candidates"),
    // Partial oracle (same boundary as q_minhash_incremental): the
    // banded candidates of the post-stream probe — including pairs whose
    // index side ARRIVED THROUGH THE STREAM — are tapped; DuckDB
    // recomputes the Jaccard verification, threshold, and order.
    "s_minhash_ingest" -> minhashEntry("s_minhash_ingest_candidates", NearDup.StreamIn),
    // Partial oracle: the POST-COMPACTION banded candidates are tapped;
    // DuckDB recomputes the Jaccard verify leg — compaction must not
    // change a single pair.
    "q_minhash_compact" -> minhashEntry("minhash_compact_candidates", NearDup.Ingest, Compact),
    // Partial oracle: the POST-DELETE banded candidates are tapped;
    // DuckDB re-verifies the Jaccard leg wholesale — the tombstoned
    // doc's absence flows through the hash-match, and its probe-level
    // invisibility (pre/post compaction) is DedupSpec-pinned.
    "q_minhash_delete" -> minhashEntry("minhash_del_candidates", NearDup.Takedown),
    // Partial oracle: the POST-REBUILD banded candidates are tapped;
    // DuckDB re-verifies the Jaccard leg wholesale — the re-banded
    // index must still surface every surviving pair (appended docs
    // folded in, the tombstoned doc physically gone; DedupSpec pins the
    // content identity).
    "q_minhash_rebuild" -> minhashEntry("minhash_rebuild_candidates",
      NearDup.Ingest, NearDup.Takedown, Rebuild),
    "q_dedup_clusters" -> QueryDef(dedupClusters, Some("""
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY ck) AS cluster_id,
             count(*) OVER (PARTITION BY ck) AS cluster_size
      FROM (SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS ck
            FROM documents)
      ORDER BY doc_id""")),
    // Partial oracle: min-label connected components over the tapped
    // verified edge list, via recursive-CTE reachability (min reachable
    // rep per node == the propagation fixpoint), expanded to members
    // through the exact md5 groups.
    "q_dedup_cluster_graph" -> QueryDef(dedupClusterGraph, Some(s"""
      WITH RECURSIVE
      g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
            FROM documents),
      nodes AS (SELECT DISTINCT rep FROM g),
      e0 AS (SELECT doc_a, doc_b
             FROM read_parquet('${OracleTap.Root}/cluster_graph_edges/*.parquet')),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM e0
                UNION ALL SELECT doc_b AS src, doc_a AS dst FROM e0),
      reach(node, lbl) AS (
        SELECT rep, rep FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      cluster AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
      SELECT g.doc_id, c.cluster_id FROM g JOIN cluster c ON c.node = g.rep
      ORDER BY g.doc_id""")),
    "q_dedup_exact" -> QueryDef(dedupExact, Some("""
      SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keep_id""")),
    "q_dedup_incremental" -> QueryDef(dedupIncremental, Some("""
      WITH idx AS (SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id < 400),
      batch AS (SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id >= 400),
      fresh AS (SELECT b.* FROM batch b
                WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.digest = b.digest)),
      survivors AS (
        SELECT doc_id, digest,
               row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
        FROM fresh)
      SELECT doc_id, digest FROM survivors WHERE rn = 1 ORDER BY doc_id""")),
    "q_dedup_exact_rows" -> QueryDef(dedupExactRows, Some("""
      SELECT doc_id, lang, source, n_chars FROM (
        SELECT doc_id, lang, source, n_chars,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
      ORDER BY doc_id""")),
    "q_dedup_spans" -> QueryDef(dedupSpans, Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      t AS (
        SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tok FROM d
        WHERE len(w) >= 8),
      p AS (
        SELECT doc_id, w,
               unnest(range(0, CAST(n_tok - 7 AS INTEGER))) AS pos
        FROM t),
      g AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               array_to_string(w[CAST(pos + 1 AS INTEGER):CAST(pos + 8 AS INTEGER)], ' ') AS gram
        FROM p),
      dup AS (
        SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      h AS (
        SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
      i AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                    THEN 0 ELSE 1 END AS brk
        FROM h),
      s AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        FROM i)
      SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
             min(pos) AS tok_start,
             max(pos) + 8 - min(pos) AS tok_len,
             count(*) AS n_grams
      FROM s GROUP BY doc_id, span_id
      ORDER BY doc_id, span_id""")),
    "q_dedup_span_stats" -> QueryDef(dedupSpanStats, Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      t AS (
        SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tok FROM d
        WHERE len(w) >= 8),
      p AS (
        SELECT doc_id, w,
               unnest(range(0, CAST(n_tok - 7 AS INTEGER))) AS pos
        FROM t),
      g AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               array_to_string(w[CAST(pos + 1 AS INTEGER):CAST(pos + 8 AS INTEGER)], ' ') AS gram
        FROM p),
      dup AS (
        SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      h AS (
        SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
      i AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                    THEN 0 ELSE 1 END AS brk
        FROM h),
      s AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        FROM i),
      spans AS (
        SELECT doc_id, span_id, max(pos) + 8 - min(pos) AS tok_len
        FROM s GROUP BY doc_id, span_id),
      perdoc AS (
        SELECT doc_id, sum(tok_len) AS dup_tokens, count(*) AS n_spans
        FROM spans GROUP BY doc_id)
      SELECT d2.doc_id,
             CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_tok,
             CAST(coalesce(p2.dup_tokens, 0) AS BIGINT) AS dup_tokens,
             CAST(coalesce(p2.n_spans, 0) AS BIGINT) AS n_spans,
             floor(CAST(coalesce(p2.dup_tokens, 0) AS DOUBLE)
                   / len(string_split(d2.text, ' ')) * 10000) / 10000 AS dup_frac,
             floor(CAST(coalesce(p2.dup_tokens, 0) AS DOUBLE)
                   / len(string_split(d2.text, ' ')) * 10000) / 10000 >= 0.5 AS flag_dup
      FROM documents d2 LEFT JOIN perdoc p2 USING (doc_id)
      ORDER BY doc_id""")),
    "q_dedup_normalized" -> QueryDef(dedupNormalized, Some("""
      WITH n AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm
        FROM documents)
      SELECT md5(norm) AS content_hash, min(doc_id) AS keep_id,
             count(*) AS n_copies
      FROM n GROUP BY md5(norm) ORDER BY keep_id""")),
    "q_url_dedup" -> QueryDef(urlDedup, Some("""
      WITH r AS (
        SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
          WHEN 0 THEN 'https://' || source || '.example.com/p/' ||
            CAST(doc_id % 25 AS VARCHAR)
          WHEN 1 THEN 'http://' || source || '.example.com/p/' ||
            CAST(doc_id % 25 AS VARCHAR) || '?utm_source=rss'
          WHEN 2 THEN 'HTTPS://' || upper(source) || '.Example.COM/p/' ||
            CAST(doc_id % 25 AS VARCHAR) || '/'
          ELSE 'https://' || source || '.example.com/p/' ||
            CAST(doc_id % 25 AS VARCHAR) || '?id=' || CAST(doc_id % 5 AS VARCHAR) ||
            '&utm_campaign=x&ref=tw'
        END AS raw FROM documents),
      n AS (
        SELECT doc_id,
          lower(regexp_extract(raw, '^[a-zA-Z]+://([^/?]+)', 1)) AS host,
          regexp_replace(regexp_extract(raw, '^[a-zA-Z]+://[^/?]+([^?]*)', 1),
            '/$', '') AS path,
          regexp_extract(raw, '\?(.*)$', 1) AS qs
        FROM r),
      k AS (
        SELECT doc_id, host,
          'https://' || host || path ||
            CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS url
        FROM (
          SELECT *, coalesce(list_aggr(list_sort(list_filter(string_split(qs, '&'),
              p -> p != '' AND NOT starts_with(p, 'utm_')
                AND NOT list_contains(['fbclid', 'gclid', 'ref'],
                  string_split(p, '=')[1]))), 'string_agg', '&'), '') AS kept
          FROM n) f),
      c AS (
        SELECT host, url, min(doc_id) AS doc_id, count(*) AS n_copies
        FROM k GROUP BY host, url),
      w AS (
        SELECT host, url, doc_id, n_copies,
               row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rn
        FROM c)
      SELECT host, rn, doc_id, url, n_copies FROM w
      WHERE rn <= 3 ORDER BY host, rn""")),
    "q_ngram_jaccard" -> QueryDef(ngramJaccard, Some("""
      WITH d AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id < 100)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_filter(list_distinct(a.w), x -> list_contains(b.w, x))) AS DOUBLE)
                   / len(list_distinct(a.w || b.w)), 4) AS jaccard
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""")),
    // Partial oracle (VERDICT r8 #6): the seeded LSH candidate stage is
    // tapped to a fixed parquet path; DuckDB independently recomputes the
    // deterministic remainder — exact-group collapse, word-set Jaccard
    // verification + threshold, member expansion, ordering — from that
    // tap plus the documents table. Only the MinHash kernel itself stays
    // outside the oracle (it has its own staged==naive equivalence spec).
    "q_minhash_near_dup" -> QueryDef(minhashNearDup, Some(s"""
      WITH g AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
        FROM documents),
      within AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
        FROM g a JOIN g b ON a.rep = b.rep AND a.doc_id < b.doc_id),
      w AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS w
        FROM documents),
      v AS (
        SELECT c.doc_a, c.doc_b,
               round(CAST(len(list_filter(list_distinct(wa.w), x -> list_contains(wb.w, x))) AS DOUBLE)
                     / len(list_distinct(wa.w || wb.w)), 4) AS jaccard
        FROM read_parquet('${OracleTap.Root}/minhash_rep_candidates/*.parquet') c
        JOIN w wa ON c.doc_a = wa.doc_id
        JOIN w wb ON c.doc_b = wb.doc_id),
      expanded AS (
        SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
               greatest(ma.doc_id, mb.doc_id) AS doc_b, v.jaccard
        FROM v JOIN g ma ON ma.rep = v.doc_a JOIN g mb ON mb.rep = v.doc_b
        WHERE v.jaccard >= 0.8)
      SELECT * FROM within UNION ALL SELECT * FROM expanded
      ORDER BY doc_a, doc_b""")))
}
