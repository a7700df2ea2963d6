package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, QueryModule, Seed, Tables}

/** Text-analysis operators for a large-scale training-data pipeline over
  * the `documents` table: descriptive stats, quality scoring, n-gram
  * language ID, tokenization counts, and rolling-hash document
  * fingerprinting. Everything is built-in/higher-order functions
  * (codegen'd, one scan, no UDFs) — each row is processed independently,
  * so the plan is embarrassingly parallel at any scale.
  */
object TextAnalysis extends QueryModule {

  private val stopwords = Seq("the", "a")
  private val stopList = stopwords.map(s => s"'$s'").mkString(", ")

  /** Floor-based d-decimal truncation instead of round: derived double
    * ratios land on exact decimal halves where Spark (HALF_UP on the
    * shortest decimal repr) and DuckDB (binary double) round differently
    * (same gotcha as ops.Scalars.mathFuncs). floor of an identical binary
    * double is identical in both engines.
    */
  private def trunc(c: org.apache.spark.sql.Column, d: Int): org.apache.spark.sql.Column = {
    val p = math.pow(10, d)
    floor(c * lit(p)).cast(DoubleType) / lit(p)
  }

  private def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"), col("lang"),
        length(col("text")).cast(LongType).as("n_chars_c"),
        size(split(col("text"), " ")).cast(LongType).as("n_words"),
        size(array_distinct(split(col("text"), " "))).cast(LongType).as("n_uniq_words"))
      .orderBy("doc_id")

  private def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_words", size(col("toks")).cast(LongType))
      .withColumn("n_stop",
        size(expr(s"filter(toks, w -> w IN ($stopList))")).cast(LongType))
      .select(
        col("doc_id"),
        col("n_words"),
        trunc(col("n_stop").cast(DoubleType) / col("n_words"), 4).as("stop_ratio"),
        trunc(
          (length(col("text")) - (col("n_words") - 1)).cast(DoubleType) / col("n_words"),
          2).as("avg_word_len"),
        (col("n_words").between(10, 200) &&
          (col("n_stop").cast(DoubleType) / col("n_words")) < lit(0.3)).as("is_quality"))
      .orderBy("doc_id")

  private def langId(spark: SparkSession, sfDir: String): DataFrame =
    // n-gram-heuristic language ID: stopword hit-rate decides. The fixture
    // vocabulary is English-ish regardless of the labeled lang, so the
    // interesting output is the (label, prediction) contingency.
    Tables(spark, sfDir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("stop_ratio",
        size(expr(s"filter(toks, w -> w IN ($stopList))")).cast(DoubleType) /
          size(col("toks")))
      .withColumn("pred_lang", when(col("stop_ratio") > 0.01, "en").otherwise("unk"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"), trunc(avg(col("stop_ratio")), 4).as("avg_stop_ratio"))
      .orderBy("lang", "pred_lang")

  private def tokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    // token_runs = regexp_count(text, '[a-z]+') as a codegen byte scan;
    // the regex engine was this query's entire cost (TokenRuns scaladoc).
    graft.functions.TokenRuns.register(spark)
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).cast(LongType).as("ws_tokens"),
        expr("token_runs(text)").as("re_tokens"),
        // BPE-ish upper bound: each word contributes ceil(len/4) pieces.
        expr("CAST(aggregate(transform(split(text, ' '), w -> ceil(length(w) / 4.0)), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS BIGINT)").as("bpe_pieces"))
      .orderBy("doc_id")
  }

  private def docFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    // Rolling-hash fingerprint: md5 over strided char-20-gram shingles,
    // keep the min/max digest per doc (winnowing-style representative).
    // md5 is bit-identical across engines, so this is oracle-checkable.
    // The aggregation is ROW-LOCAL (higher-order transform + array
    // min/max/distinct): a fingerprint only combines shingles of its own
    // document, so the earlier explode → groupBy(doc_id) shuffled every
    // (doc_id, digest) pair — ~50M rows of 32-char strings at 20x scale —
    // to reassemble rows the scan already had intact. Zero-shuffle now;
    // only the determinism orderBy exchanges data.
    // Null text drops the row, matching the previous explode semantics
    // and the oracle's unnest(range(...)) (both produce no rows on null).
    // spread (r17): the strided-md5 kernel is ~n_chars/4 digests per doc,
    // all scan-side — row-group-bound single-task without the rebalance.
    Tables.spread(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr(
        "transform(sequence(1, greatest(length(text) - 19, 1), 4), " +
          "p -> md5(substring(text, p, 20)))").as("hs"))
      .select(
        col("doc_id"),
        array_min(col("hs")).as("fp_min"),
        array_max(col("hs")).as("fp_max"),
        size(array_distinct(col("hs"))).cast(LongType).as("n_grams"))
      .orderBy("doc_id")

  /** Deterministic train/test split by content-independent hash: the first
    * two hex chars of md5(doc_id) land below '1a' (26/256 ≈ 10%) → test.
    * Row-local, no shuffle, reproducible across runs/engines/cluster sizes
    * — the property a 100 TB corpus split must have (a random() split is
    * neither reproducible nor resumable). md5 is bit-identical in Spark
    * and DuckDB, so the assignment itself is oracle-checked.
    */
  private def splitTrainTest(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        substring(md5(col("doc_id").cast(StringType)), 1, 2).as("h2"))
      .withColumn("split", when(col("h2") < "1a", "test").otherwise("train"))
      .orderBy("doc_id")

  /** Deterministic stratified sample: per-language rates (en 50%, rest
    * 20%) applied as a content-independent hash threshold — the same
    * reproducibility argument as q_split_train_test (a rand(seed) sample
    * depends on partition layout; a hash threshold does not, so the
    * sample is stable across engines, cluster sizes, and reruns, and a
    * document's membership can be re-derived at any time). The salt
    * decorrelates this hash from the train/test split hash.
    */
  private def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("h",
        substring(md5(concat(col("doc_id").cast(StringType), lit(":strat"))), 1, 4))
      .filter(when(col("lang") === "en", col("h") < "8000").otherwise(col("h") < "3333"))
      .select(col("doc_id"), col("lang"), col("h"))
      .orderBy("doc_id")

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): duplicate
    * word fraction, duplicate 2-gram fraction, and the top 2-gram's share.
    * All ROW-LOCAL higher-order expressions — no explode, no shuffle; the
    * top-gram count uses sort + max-equal-run (O(n log n) per doc) rather
    * than a per-distinct-gram rescan (O(n²), a hazard on book-length
    * docs).
    */
  private def gopherQuality(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_words", size(col("w")).cast(LongType))
      .withColumn("n_uniq", size(array_distinct(col("w"))).cast(LongType))
      .withColumn("grams", expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"))
      .withColumn("n_grams", size(col("grams")).cast(LongType))
      .withColumn("uniq_grams", size(array_distinct(col("grams"))).cast(LongType))
      .withColumn("top_c", expr(
        """aggregate(array_sort(grams),
             named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
             (acc, x) -> named_struct(
               'prev', x,
               'run', IF(x <=> acc.prev, acc.run + 1, 1),
               'best', GREATEST(acc.best, IF(x <=> acc.prev, acc.run + 1, 1))),
             acc -> acc.best)""").cast(LongType))
      .select(
        col("doc_id"), col("n_words"),
        trunc(lit(1.0) - col("n_uniq").cast(DoubleType) / col("n_words"), 4)
          .as("dup_word_frac"),
        trunc((col("n_grams") - col("uniq_grams")).cast(DoubleType) / col("n_grams"), 4)
          .as("dup_gram_frac"),
        trunc(col("top_c").cast(DoubleType) / col("n_grams"), 4).as("top_gram_share"))
      .orderBy("doc_id")

  /** PII redaction at scan speed: mask every run of 3+ digits (account /
    * ID numbers) inside a free-text column, count digits seen. Pure
    * regexp_replace/length expressions (codegen'd, row-local); patterns
    * stay inside RE2's subset (no lookaround) so the same redaction runs
    * on any engine.
    */
  private def piiMask(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "customer")
      .select(
        col("c_custkey"),
        regexp_replace(col("c_name"), "[0-9]{3,}", "***").as("masked_name"),
        (length(col("c_name")) -
          length(regexp_replace(col("c_name"), "[0-9]", ""))).cast(LongType)
          .as("n_digits"))
      .orderBy("c_custkey")

  /** WITHIN-document repetition stats — the Gopher repetition rules
    * (Rae et al., Gopher appendix A1.1), complementing the CROSS-doc
    * span gate (q_dedup_span_stats): per doc, the duplicate-bigram
    * fraction (1 - distinct/total) and the most-frequent-bigram share —
    * self-repetitive/templated text scores high on both and is cut
    * before training. Two-level aggregate: the explode shuffle
    * partial-combines to per-doc VOCABULARY size map-side, then a thin
    * per-doc fold; ratios floor-truncate to 4 decimals and the 20% flag
    * compares the truncated value (deterministic across engines).
    */
  private def repNgrams(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"))
        .as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_2grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_rep"))
      .select(col("doc_id"), col("n_2grams"), col("n_distinct"), col("max_rep"),
        (floor((lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_2grams")) * 10000) / 10000)
          .as("dup_frac"),
        (floor(col("max_rep").cast(DoubleType) / col("n_2grams") * 10000) / 10000)
          .as("top_frac"))
      .withColumn("flag_rep", col("dup_frac") >= 0.2)
      .orderBy("doc_id")

  /** Corpus-level top-k word bigrams: explode 2-grams, partial-agg'd
    * groupBy (map-side combine makes the shuffle vocabulary-sized, not
    * corpus-sized), TakeOrderedAndProject for the global top 20 with a
    * total tie order.
    */
  private def ngramFreq(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .withColumn("w", split(col("text"), " "))
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"))
        .as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(20)

  /** Bigram collocations by pointwise mutual information — the
    * corpus-linguistics signal behind tokenizer-merge and phrase-mining
    * passes: PMI(a,b) = ln(P(a,b) / (P(a)·P(b))) from corpus-global
    * unigram/bigram counts. Every aggregate partial-combines map-side, so
    * all shuffles are vocabulary-sized; the two single-row totals ride a
    * broadcast. The count floor keeps the estimator away from PMI's
    * low-count degeneracy (hapax bigrams score inflated).
    */
  private def collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
    val uni = d.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val bi = d.select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i + 1] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    // Both sides are single-row aggregates; broadcast() EACH so the 1x1
    // crossJoin plans BroadcastNestedLoopJoin by hint, not by the planner
    // happening to notice the size (PlanSpec pins this).
    val totals = broadcast(uni.agg(sum(col("c")).as("n_tok")))
      .crossJoin(broadcast(bi.agg(sum(col("c_ab")).as("n_bi"))))
    val ua = uni.select(col("tok").as("a"), col("c").as("c_a"))
    val ub = uni.select(col("tok").as("b"), col("c").as("c_b"))
    bi.filter(col("c_ab") >= 3)
      .join(ua, "a").join(ub, "b")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", floor(log(
        (col("c_ab").cast("double") * col("n_tok") * col("n_tok")) /
          (col("n_bi").cast("double") * col("c_a") * col("c_b"))) * 10000) / 10000)
      .select(col("a"), col("b"), col("c_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(20)
  }

  private val BpeRounds = 60
  private val BpeVocabCap = 1000
  // Merged symbols take fresh integer ids from 256 up (the byte-level-BPE
  // convention); base symbols are the [a-z] code points 97-122, so merged
  // ids can never collide with base ids. r17: this integer-id
  // construction replaced the r16 single-char-alias one, whose alphabet
  // capped the merge table at 5 rounds by construction (VERDICT r16 #4);
  // a production tokenizer's ~30k merges need ids, not alias chars, and
  // 60 rounds exercises the id-space path at every fixture.
  private val BpeMergeBase = 256

  /** One greedy left-to-right non-overlapping pair replacement in
    * symbol-id space — BPE's merge application. Replacing `(l, r)` with
    * the FRESH id `m` makes the single pass exact: `m` never equals `l`,
    * so a replacement cannot re-pair with the symbol that follows
    * ("aaaa" under (a,a)→Z is "ZZ", never an overlap). Tight int-array
    * loop: the kernel runs once per vocab entry per round in the miner
    * and once per distinct word per merge in the encoder. */
  private[graft] def bpeRewrite(syms: Array[Int], l: Int, r: Int, m: Int): Array[Int] = {
    val out = new Array[Int](syms.length)
    var n = 0
    var i = 0
    while (i < syms.length) {
      if (n > 0 && out(n - 1) == l && syms(i) == r) out(n - 1) = m
      else { out(n) = syms(i); n += 1 }
      i += 1
    }
    if (n == syms.length) syms else java.util.Arrays.copyOf(out, n)
  }

  /** id → text under a learned merge table: merged ids expand through
    * their constituents (built left-to-right, so earlier merges are
    * already expanded); base ids render as their code point. */
  private def bpeExpansion(merges: Seq[(Int, Int, Int)]): Map[Int, String] =
    merges.foldLeft(Map.empty[Int, String]) { case (env, (l, r, m)) =>
      def ex(i: Int) = env.getOrElse(i, i.toChar.toString)
      env + (m -> (ex(l) + ex(r)))
    }

  /** BPE merge-pair mining — the tokenizer-construction leg between
    * [[collocations]] (PMI phrase signal) and Corpus.packSequences
    * (token packing): [[BpeRounds]] rounds of most-frequent-adjacent-
    * symbol-pair merging (Sennrich et al. 2016) over the CAPPED
    * word-frequency vocabulary, in integer symbol-id space. BPE trainers
    * run on the word-frequency table, never the corpus — at 100 TB the
    * corpus-sized (distributed) leg is ONE tokenizing scan + a
    * vocabulary-sized groupBy + the cap-bounded top-K; the merge loop
    * then runs driver-side over the collected ≤[[BpeVocabCap]]-row table
    * (contract-bounded collect, the k-means-centroid / CMS-hot-key
    * pattern). That split IS the production trainer architecture
    * (HuggingFace tokenizers, SentencePiece: distributed counting, merge
    * loop in memory): the loop is O(cap · rounds · avg_len) integer ops
    * on a table whose size the cap fixes regardless of corpus scale —
    * r16's distributed per-round argmax paid 2 tiny Spark jobs per round
    * for work measured in microseconds. Ties break (count desc, pair
    * asc on ids) so the merge sequence is total-order deterministic —
    * the DuckDB oracle replays all rounds as chained CTEs (the LPA-round
    * oracle pattern, [[bpeOracleSql]]) and must hash-match.
    */
  private def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    spark.createDataFrame(bpeMine(spark, sfDir)._1)
      .toDF("step", "left_sym", "right_sym", "merged_sym", "pair_n")
      .orderBy("step")

  /** The mining loop shared by [[bpeMerges]] (which times it — mining IS
    * that entry's operator) and [[bpeLearnedMerges]] (the encoder's
    * memoized input artifact). Returns (display rows with merged ids
    * rendered back to text, raw per-round (l, r, m) id-space merge table
    * — what [[bpeEncode]] applies serially).
    */
  private def bpeMine(spark: SparkSession, sfDir: String)
      : (Seq[(Int, String, String, String, Long)], Seq[(Int, Int, Int)]) = {
    // The distributed leg: one tokenize+count corpus scan, a
    // vocabulary-sized partial-agg'd groupBy, the cap-bounded top-K.
    // The collect is ≤BpeVocabCap rows BY CONTRACT — the merge loop
    // below never sees the corpus.
    var vocab: Array[(Array[Int], Long)] =
      Tables(spark, sfDir, "documents")
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("w"))
        .limit(BpeVocabCap)
        .collect()
        .map(r => (r.getString(0).map(_.toInt).toArray, r.getLong(1)))
    val expansion = scala.collection.mutable.Map.empty[Int, String]
    def ex(i: Int): String = expansion.getOrElse(i, i.toChar.toString)
    val disp = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    val raw = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var k = 0
    var exhausted = false
    while (k < BpeRounds && !exhausted) {
      val pairs = scala.collection.mutable.Map.empty[(Int, Int), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          pairs(key) = pairs.getOrElse(key, 0L) + f
          i += 1
        }
      }
      if (pairs.isEmpty) exhausted = true // tiny spec corpora run dry early
      else {
        // argmax, ties (count desc, then pair asc on ids): total-order
        // deterministic — the oracle's ORDER BY n DESC, l, r LIMIT 1.
        val ((l, r), n) = pairs.minBy { case ((pl, pr), pn) => (-pn, pl, pr) }
        val m = BpeMergeBase + k
        expansion(m) = ex(l) + ex(r)
        vocab = vocab.map { case (s, f) => (bpeRewrite(s, l, r, m), f) }
        disp += ((k + 1, ex(l), ex(r), expansion(m), n))
        raw += ((l, r, m))
        k += 1
      }
    }
    (disp.toSeq, raw.toSeq)
  }

  /** Session-memoized mined merge table per fixture — the ENCODER'S input
    * artifact: production trains a tokenizer once and applies it
    * everywhere, so [[bpeEncode]]'s timed region is the application scan,
    * not the training (which [[bpeMerges]] measures as its own entry;
    * [[BpeMergeSeed]] builds this memo untimed, the same disclosed
    * economics as the graph edge memos and index seeds). Keyed by the
    * documents fixture tag, so a corpus rewritten in place is mined
    * afresh. Racy variant: the build runs a Spark job (the vocab scan)
    * and must not hold a cache bin lock.
    */
  private val bpeMergeMemo =
    new graft.core.SessionCache[String, Seq[(Int, Int, Int)]]

  private[graft] def bpeLearnedMerges(spark: SparkSession, sfDir: String): Seq[(Int, Int, Int)] =
    bpeMergeMemo.getOrBuildRacy(spark, Tables.fixtureTag("v1", sfDir, "documents"))(
      bpeMine(spark, sfDir)._2)

  /** The merge-table memo as a seed: the encoder's one-time trained-
    * tokenizer input (production trains once, applies everywhere;
    * training itself is timed as q_bpe_merges). Declared on
    * q_bpe_encode, so Bench's registry JIT pass keeps its "compiles
    * classes only" contract.
    */
  val BpeMergeSeed: Seed = Seed("bpe merge memo", bpeLearnedMerges)

  /** DuckDB replay of [[bpeMerges]], generated round by round so the SQL
    * stays mechanically parallel to the Spark loop: v_k = the integer-id
    * vocab after k merges, p_k = pair counts, m_k = the argmax merge, mt
    * = the assembled merge table, env = the id→text expansion
    * environment. Rendering goes through env (built by ONE recursive CTE
    * over mt) rather than per-round nested CASE chains — the chains made
    * the SQL quadratic in rounds and DuckDB's planning superlinear
    * (measured at 60 rounds: 203 s chained-CASE vs 2.5 s env-rendered).
    */
  private def bpeOracleSql: String =
    s"""WITH RECURSIVE $bpeCtePrefix
      SELECT step, ${bpeRenderSql("l")} AS left_sym,
             ${bpeRenderSql("r")} AS right_sym,
             ${bpeRenderSql("mi")} AS merged_sym, n AS pair_n
      FROM mt CROSS JOIN env ORDER BY step"""

  /** One oracle round's greedy vocab rewrite: LEFT JOIN the (possibly
    * empty) one-row argmax table and fold the id list exactly as
    * [[bpeRewrite]] does — list_reduce over singleton lists because
    * DuckDB lambdas take the accumulator's type from the first element.
    * Early-stop parity (ADVICE r15 #2 lineage): when the vocab ran dry
    * at round k, m_k is EMPTY, the join leaves m.l NULL, and the vocab
    * passes through unchanged — mirroring the Spark loop's `exhausted`
    * stop. Subqueries are not allowed inside DuckDB lambdas, hence the
    * join rather than scalar-subquery references.
    */
  private def bpeRewriteSql(v: String, m: String): String =
    s"""SELECT CASE WHEN m.l IS NULL THEN syms ELSE
          list_reduce(list_transform(syms, x -> [x]),
            (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.l AND x[1] = m.r
                        THEN acc[1:len(acc) - 1] || [m.mi] ELSE acc || x END)
          END AS syms, freq
        FROM $v LEFT JOIN $m m ON TRUE"""

  /** Render a symbol id as text against the `env` expansion list:
    * merged ids look up their entry, base ids fall back to chr(id). */
  private def bpeRenderSql(expr: String): String =
    s"coalesce(list_filter(env, s -> s.id = $expr)[1].txt, chr($expr))"

  /** The CTE chain shared by the two BPE oracles (requires WITH
    * RECURSIVE at the caller for `exs`). Every per-round CTE is
    * MATERIALIZED: each is referenced by the next round AND downstream,
    * and without the hint DuckDB re-inlines the 60-deep chain and
    * planning goes superlinear.
    */
  private def bpeCtePrefix: String = {
    val sb = new StringBuilder
    sb ++= s"""v0 AS MATERIALIZED (
      SELECT list_transform(string_split(w, ''), c -> ascii(c)) AS syms, freq FROM (
        SELECT w, count(*) AS freq FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents) u
        GROUP BY w ORDER BY freq DESC, w LIMIT $BpeVocabCap) c)"""
    for (k <- 0 until BpeRounds) {
      sb ++= s""",
      p$k AS MATERIALIZED (
        SELECT syms[i] AS l, syms[i + 1] AS r, sum(freq) AS n
        FROM v$k, unnest(range(1, len(syms))) AS t(i)
        GROUP BY 1, 2),
      m$k AS MATERIALIZED (
        SELECT CAST(l AS INTEGER) AS l, CAST(r AS INTEGER) AS r,
               ${BpeMergeBase + k} AS mi, CAST(n AS BIGINT) AS n
        FROM p$k ORDER BY n DESC, l, r LIMIT 1)"""
      if (k + 1 < BpeRounds) sb ++= s""",
      v${k + 1} AS MATERIALIZED (
        ${bpeRewriteSql(s"v$k", s"m$k")})"""
    }
    sb ++= s""",
      mt AS MATERIALIZED (
        ${(0 until BpeRounds)
          .map(k => s"SELECT CAST(${k + 1} AS INTEGER) AS step, l, r, mi, n FROM m$k")
          .mkString("\n        UNION ALL ")})"""
    // id→text environment: one recursive pass over mt appends each
    // merge's expansion (its constituents are either earlier entries or
    // base code points); recursion ends when no step k+1 exists, so an
    // early-exhausted table terminates naturally and `env` is the last
    // (fullest) iteration.
    sb ++= s""",
      exs AS (
        SELECT 0 AS k, CAST([] AS STRUCT(id INTEGER, txt VARCHAR)[]) AS env
        UNION ALL
        SELECT e.k + 1, e.env || [struct_pack(id := m.mi, txt :=
          coalesce(list_filter(e.env, s -> s.id = m.l)[1].txt, chr(m.l)) ||
          coalesce(list_filter(e.env, s -> s.id = m.r)[1].txt, chr(m.r)))]
        FROM exs e JOIN mt m ON m.step = e.k + 1),
      env AS MATERIALIZED (
        SELECT env FROM exs ORDER BY k DESC LIMIT 1)"""
    sb.toString
  }

  /** BPE apply/encode — the leg that CONSUMES the learned merge table
    * (completing the q_collocations → q_bpe_merges → q_pack_sequences
    * chain): tokenize the corpus under the mined merges and emit the
    * top-50 token distribution. The corpus-sized leg is the one
    * tokenize+count scan (same shape as the miner's); the merge
    * application is ROW-LOCAL (the [[bpeRewrite]] kernel folded
    * [[BpeRounds]] times over the word's id array, then a per-token
    * explode bounded by word length), so the plan is one corpus scan +
    * one word-bounded exchange + one token-bounded exchange at any
    * scale. The merge table is the
    * encoder's INPUT artifact ([[bpeLearnedMerges]]): production trains
    * once and applies everywhere, so training cost is q_bpe_merges'
    * timed region, not this entry's.
    */
  private def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = bpeLearnedMerges(spark, sfDir)
    val expansion = bpeExpansion(merges)
    // Compiled kernel (the MinHash signature-kernel precedent): applying
    // [[BpeRounds]] merges is a serial fold over an int array — the
    // fixed-SQL alternative at 60 rounds is a 60-deep nested
    // higher-order-function chain (codegen blowup, interpreted
    // evaluation); the kernel is one tight loop per DISTINCT word (it
    // runs after the groupBy, once per vocabulary entry, never per
    // token occurrence).
    val encodeKernel = udf { (w: String) =>
      var syms: Array[Int] = w.map(_.toInt).toArray
      merges.foreach { case (l, r, m) => syms = bpeRewrite(syms, l, r, m) }
      syms.map(id => expansion.getOrElse(id, id.toChar.toString))
    }
    Tables(spark, sfDir, "documents")
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(explode(encodeKernel(col("w"))).as("token"), col("freq"))
      .groupBy("token").agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)
  }

  /** DuckDB replay of [[bpeEncode]]: the shared training CTEs, then the
    * full (uncapped) word-frequency table pushed through the same
    * [[BpeRounds]] guarded greedy rewrites, the final ids unnested and
    * rendered through env. Rounds past an early exhaustion are no-ops on
    * both sides (the NULL-join guard in [[bpeRewriteSql]]).
    */
  private def bpeEncodeOracleSql: String = {
    val rewrites = (0 until BpeRounds).map { k =>
      s"""w${k + 1} AS MATERIALIZED (
        ${bpeRewriteSql(s"w$k", s"m$k")})"""
    }.mkString(",\n      ")
    s"""WITH RECURSIVE $bpeCtePrefix,
      w0 AS MATERIALIZED (
        SELECT list_transform(string_split(w, ''), c -> ascii(c)) AS syms,
               count(*) AS freq FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents) u
        GROUP BY w),
      $rewrites
      SELECT ${bpeRenderSql("t.id")} AS token, CAST(sum(freq) AS BIGINT) AS n
      FROM w$BpeRounds CROSS JOIN env, unnest(syms) AS t(id)
      GROUP BY 1 ORDER BY n DESC, token LIMIT 50"""
  }

  /** Document length histogram: width_bucket into fixed bins — the
    * standard curation dashboard cut. One partial-agg'd groupBy over a
    * row-local bucket id.
    */
  private def docLenHist(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(width_bucket(length(col("text")), lit(0), lit(600), lit(12)).as("bucket"),
        length(col("text")).as("len"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("len")).cast(LongType).as("min_len"),
        max(col("len")).cast(LongType).as("max_len"))
      .orderBy("bucket")

  override val defs: Map[String, QueryDef] = Map(
    "q_collocations" -> QueryDef(collocations, Some("""
      WITH d AS (
        SELECT string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      uc AS (SELECT unnest(w) AS tok FROM d),
      uni AS (SELECT tok, count(*) AS c FROM uc GROUP BY tok),
      bp AS (
        SELECT w[CAST(i + 1 AS INTEGER)] AS a, w[CAST(i + 2 AS INTEGER)] AS b
        FROM d, unnest(range(0, len(w) - 1)) AS t(i)),
      bi AS (SELECT a, b, count(*) AS c_ab FROM bp GROUP BY a, b),
      tot AS (SELECT (SELECT sum(c) FROM uni) AS n_tok,
                     (SELECT sum(c_ab) FROM bi) AS n_bi)
      SELECT bi.a, bi.b, bi.c_ab,
             floor(ln((CAST(bi.c_ab AS DOUBLE) * n_tok * n_tok) /
                      (CAST(n_bi AS DOUBLE) * ua.c * ub.c)) * 10000) / 10000 AS pmi
      FROM bi
      JOIN uni ua ON bi.a = ua.tok
      JOIN uni ub ON bi.b = ub.tok, tot
      WHERE bi.c_ab >= 3
      ORDER BY pmi DESC, a, b LIMIT 20""")),
    "q_bpe_merges" -> QueryDef(bpeMerges, Some(bpeOracleSql)),
    "q_bpe_encode" -> QueryDef(bpeEncode, Some(bpeEncodeOracleSql), Seq(BpeMergeSeed)),
    "q_split_train_test" -> QueryDef(splitTrainTest, Some("""
      SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                  THEN 'test' ELSE 'train' END AS split
      FROM documents ORDER BY doc_id""")),
    "q_stratified_sample" -> QueryDef(stratifiedSample, Some("""
      WITH t AS (
        SELECT doc_id, lang,
               substring(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 4) AS h
        FROM documents)
      SELECT doc_id, lang, h FROM t
      WHERE CASE WHEN lang = 'en' THEN h < '8000' ELSE h < '3333' END
      ORDER BY doc_id""")),
    "q_gopher_quality" -> QueryDef(gopherQuality, Some("""
      WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      b2 AS (
        SELECT doc_id, w, len(w) AS n_words, len(list_distinct(w)) AS n_uniq
        FROM base),
      g AS (
        SELECT doc_id, n_words, n_uniq,
               unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS gram
        FROM b2),
      cnt AS (
        SELECT doc_id, any_value(n_words) AS n_words, any_value(n_uniq) AS n_uniq,
               gram, count(*) AS c
        FROM g GROUP BY doc_id, gram),
      top AS (
        SELECT doc_id, any_value(n_words) AS n_words, any_value(n_uniq) AS n_uniq,
               max(c) AS top_c, sum(c) AS n_grams, count(*) AS uniq_grams
        FROM cnt GROUP BY doc_id)
      SELECT doc_id, n_words,
             floor((1 - CAST(n_uniq AS DOUBLE) / n_words) * 10000) / 10000 AS dup_word_frac,
             floor(CAST(n_grams - uniq_grams AS DOUBLE) / n_grams * 10000) / 10000 AS dup_gram_frac,
             floor(CAST(top_c AS DOUBLE) / n_grams * 10000) / 10000 AS top_gram_share
      FROM top ORDER BY doc_id""")),
    "q_pii_mask" -> QueryDef(piiMask, Some("""
      SELECT c_custkey,
             regexp_replace(c_name, '[0-9]{3,}', '***', 'g') AS masked_name,
             length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS n_digits
      FROM customer ORDER BY c_custkey""")),
    "q_rep_ngrams" -> QueryDef(repNgrams, Some("""
      WITH g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS gram
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
      d AS (
        SELECT doc_id, sum(c) AS n_2grams, count(*) AS n_distinct, max(c) AS max_rep
        FROM c GROUP BY doc_id)
      SELECT doc_id,
             CAST(n_2grams AS BIGINT) AS n_2grams,
             CAST(n_distinct AS BIGINT) AS n_distinct,
             CAST(max_rep AS BIGINT) AS max_rep,
             floor((1.0 - CAST(n_distinct AS DOUBLE) / n_2grams) * 10000) / 10000 AS dup_frac,
             floor(CAST(max_rep AS DOUBLE) / n_2grams * 10000) / 10000 AS top_frac,
             floor((1.0 - CAST(n_distinct AS DOUBLE) / n_2grams) * 10000) / 10000 >= 0.2 AS flag_rep
      FROM d ORDER BY doc_id""")),
    "q_ngram_freq" -> QueryDef(ngramFreq, Some("""
      WITH g AS (
        SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS gram
        FROM documents)
      SELECT gram, count(*) AS n FROM g
      GROUP BY gram ORDER BY n DESC, gram LIMIT 20""")),
    // DuckDB has no width_bucket; floor(len/50)+1 capped at 13 is the
    // exact arithmetic equivalent of width_bucket(len, 0, 600, 12) for
    // len >= 0 (bucket 13 = overflow), so the oracle still checks values.
    "q_doc_len_hist" -> QueryDef(docLenHist, Some("""
      SELECT CAST(least(floor(length(text) / 50) + 1, 13) AS BIGINT) AS bucket,
             count(*) AS n_docs, min(length(text)) AS min_len,
             max(length(text)) AS max_len
      FROM documents GROUP BY 1 ORDER BY 1""")),
    "q_text_stats" -> QueryDef(textStats, Some("""
      SELECT doc_id, lang,
             length(text) AS n_chars_c,
             len(string_split(text, ' ')) AS n_words,
             len(list_distinct(string_split(text, ' '))) AS n_uniq_words
      FROM documents ORDER BY doc_id""")),
    "q_text_quality" -> QueryDef(textQuality, Some(s"""
      WITH t AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n_words,
               len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS n_stop
        FROM documents)
      SELECT doc_id, n_words,
             floor(CAST(n_stop AS DOUBLE) / n_words * 10000) / 10000 AS stop_ratio,
             floor(CAST(length(text) - (n_words - 1) AS DOUBLE) / n_words * 100) / 100 AS avg_word_len,
             (n_words BETWEEN 10 AND 200 AND CAST(n_stop AS DOUBLE) / n_words < 0.3) AS is_quality
      FROM t ORDER BY doc_id""")),
    "q_lang_id" -> QueryDef(langId, Some(s"""
      WITH t AS (
        SELECT lang,
               CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stop_ratio
        FROM documents)
      SELECT lang,
             CASE WHEN stop_ratio > 0.01 THEN 'en' ELSE 'unk' END AS pred_lang,
             count(*) AS n,
             floor(avg(stop_ratio) * 10000) / 10000 AS avg_stop_ratio
      FROM t GROUP BY 1, 2 ORDER BY lang, pred_lang""")),
    "q_token_count" -> QueryDef(tokenCount, Some("""
      SELECT doc_id,
             len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
             len(regexp_extract_all(text, '[a-z]+')) AS re_tokens,
             CAST(list_sum(list_transform(string_split(text, ' '),
                  w -> ceil(length(w) / 4.0))) AS BIGINT) AS bpe_pieces
      FROM documents ORDER BY doc_id""")),
    "q_doc_fingerprint" -> QueryDef(docFingerprint, Some("""
      WITH p AS (
        SELECT doc_id,
               unnest(range(1, greatest(length(text) - 19, 1) + 1, 4)) AS i,
               text
        FROM documents),
      g AS (
        SELECT doc_id, md5(substring(text, CAST(i AS INTEGER), 20)) AS h FROM p)
      SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max,
             count(DISTINCT h) AS n_grams
      FROM g GROUP BY doc_id ORDER BY doc_id""")))
}
