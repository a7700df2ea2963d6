package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Ivf

/** Physical-plan assertions — the properties that decide 100 TB behavior,
  * pinned so a refactor cannot silently regress them:
  * filter/projection pushdown into the parquet scan, broadcast of dim
  * tables, map-side partial aggregation, and top-k via
  * TakeOrderedAndProject instead of a global sort.
  */
class PlanSpec extends AnyFunSuite with SparkTest {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q_filter_basic pushes predicates into the parquet scan") {
    val p = plan("q_filter_basic")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("In(o_orderstatus"), p)
  }

  test("q_scan_project prunes columns at the scan (ReadSchema only lists selected)") {
    val p = plan("q_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_comment")
      && !readSchema.contains("l_shipdate"), readSchema)
  }

  test("q_join_broadcast broadcasts both dim tables") {
    val p = plan("q_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q_agg_group plans map-side partial aggregation") {
    val p = plan("q_agg_group")
    assert(p.contains("partial_sum") || p.contains("HashAggregate(keys"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_sort_limit plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_udaf_stats keeps partial aggregation with a custom Aggregator") {
    val p = plan("q_udaf_stats")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_bucketed_join joins co-located buckets with no join-side Exchange") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // The aggregation after the join may shuffle; the join inputs must not.
    val joinSection = p.split("HashAggregate").last
    assert(!joinSection.contains("Exchange hashpartitioning"), p)
  }

  test("q_join_skew gets AQE skew-split at runtime (skew=true in the join)") {
    // Production skew thresholds are 256 MB / factor 5; scale them to the
    // tiny fixture so OptimizeSkewedJoin fires, and force the shuffle join
    // (the dim side is broadcast-small only at test SF). Conf changes are
    // restored — join strategy and skew handling are decided at EXECUTION
    // time, so they must be active around collect(), not around plan
    // construction.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // A skewed reduce partition can only split at MAP-output boundaries;
      // with the default 128 MB split size the tiny fixture scan is ONE
      // map task, leaving nothing to split. Many small input splits
      // emulate the many-mapper shape of a real cluster.
      "spark.sql.files.maxPartitionBytes" -> "16KB",
      // The agg downstream of the join needs hash partitioning, so the
      // skew split adds a shuffle; AQE declines that trade by default and
      // must be told the straggler is worse (at 100 TB it always is).
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = SparkEntry.queries("q_join_skew")(spark, "/root/testdata/sf0.01")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_partitioned_write prunes partitions at the scan") {
    val df = SparkEntry.queries("q_partitioned_write")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    // The dt predicate must appear as a PARTITION filter (directory-level
    // pruning), not a data filter applied after reading every file.
    assert(scanLine.contains("PartitionFilters: [") && scanLine.contains("dt"), p)
  }

  test("q_join_bloom prefilters the fact side BEFORE the join") {
    // The bloom might-contain UDF must sit between the orders scan and the
    // join, so non-matching fact rows die scan-side instead of riding the
    // exchange — at 100 TB that is the entire point of the operator.
    val p = plan("q_join_bloom")
    val joinIdx = p.indexOfSlice("Join")
    val filterIdx = p.indexOfSlice("mightContain")
    val udfFilter = if (filterIdx >= 0) filterIdx else p.indexOfSlice("UDF")
    assert(joinIdx >= 0 && udfFilter > joinIdx,
      s"expected the bloom prefilter below the join in the plan tree:\n$p")
  }

  test("q_join_salted shuffles the fact on (key, salt) — S-way hot-key parallelism") {
    // The whole point of explicit salting: the fact exchange must hash on
    // BOTH the join key and the salt, so the hot key's rows spread over S
    // reduce partitions instead of one straggler.
    val p = plan("q_join_salted")
    val saltedExchange = p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("salt") && l.contains("k#"))
    assert(saltedExchange, s"expected a hashpartitioning(k, salt) exchange:\n$p")
  }

  test("q_scd2_intervals historizes with a single exchange") {
    // The lead() window must reuse the one entity-key partitioning; a
    // second Exchange (beyond the final presentation sort) would mean the
    // historization pays two shuffles for one window.
    val p = plan("q_scd2_intervals")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 hash exchange, got $exchanges:\n$p")
  }

  test("q_collocations partial-aggregates all three counts") {
    val p = plan("q_collocations")
    assert("partial_count".r.findAllIn(p).size >= 2, p)
    assert("partial_sum".r.findAllIn(p).size >= 1, p)
  }

  test("q_sample_k_per_group plans WindowGroupLimit before the exchange") {
    // The per-group cap must rank-limit map-side so the shuffle carries
    // ~k rows per group per mapper, not the corpus.
    val p = plan("q_sample_k_per_group")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_tfidf partial-aggregates both counts before their shuffles") {
    // tf and df are both groupBy counts over exploded terms; without
    // map-side combine the shuffles are corpus-sized instead of
    // vocabulary-sized.
    // `partial_` specifically: generic HashAggregate(keys lines also match
    // FINAL aggregates, so an alternation would pass a plan with no
    // map-side combine at all.
    val p = plan("q_tfidf")
    assert("partial_count".r.findAllIn(p).size >= 2, p)
  }

  /** The operator feeding each LOGIC Exchange (hash/range partitioning —
    * the dedup/aggregation/sort machinery) prints its output columns
    * (Project [...] / HashAggregate(keys=[...])) — none may carry the
    * given columns. Shuffling document bodies through the dedup logic is
    * the 100 TB failure mode the curation operators are shaped to avoid.
    *
    * The one exemption (r17): `Tables.spread`'s round-robin LAYOUT
    * rebalance. On a row-group-bound input (the single-row-group fixture
    * files) it moves the scanned rows once, before any operator logic,
    * so the kernels above it aren't capped at the input's physical split
    * width; on a production layout (row groups >= parallelism/2) the
    * rebalance is not planned at all — pinned by the spread-no-op test
    * below — so text still NEVER rides an exchange at scale.
    */
  private def assertNoColsOnExchanges(p: String, cols: Seq[String]): Unit = {
    val lines = p.linesIterator.toVector
    val feeding = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Exchange") && i + 1 < lines.size &&
        !l.toLowerCase.contains("roundrobinpartitioning") => lines(i + 1)
    }
    assert(feeding.nonEmpty, p)
    for (l <- feeding; c <- cols) {
      // A Generate feeding an exchange carries only its bracketed lists
      // (required child output + generator output, e.g.
      // `Generate posexplode(...), [doc_id#1L], false, [pos#2, gh#3L]`);
      // the generator EXPRESSION may legitimately mention scan-side
      // columns (the token array inside posexplode(transform(...)))
      // that die inside the Generate and never ride the shuffle — check
      // only the bracketed output there. Every other operator prints its
      // carried columns inline, so the whole line stands.
      val carried =
        if (l.contains("Generate ")) "\\[[^\\]]*\\]".r.findAllIn(l).mkString(" ")
        else l
      assert(!carried.contains(s"$c#"), s"$c rides a shuffle:\n$l\n$p")
    }
  }

  test("Tables.spread no-ops on production layout (multi-row-group input)") {
    // The layout-rebalance gate must read the ACTUAL parquet footer: on
    // an input with at least parallelism/2 row groups the plan carries
    // no round-robin exchange, and document text touches no exchange at
    // all — the 100 TB invariant the round-robin exemption above relies
    // on. A directory of 8 single-row-group files = 8 row groups
    // (> local[4]/2), the ScaleGen replica shape.
    val dir = graft.core.TempDirs.create("graft_spread_noop")
    spark.read.parquet(s"$sf/documents.parquet").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(graft.core.Tables.rowGroupCount(spark, dir, "documents") >= 8)
    val p = SparkEntry.queries("q_decontaminate")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("roundrobinpartitioning"),
      s"spread must not rebalance a multi-row-group input:\n$p")
    val lines = p.linesIterator.toVector
    val feeding = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Exchange") && i + 1 < lines.size => lines(i + 1)
    }
    for (l <- feeding)
      assert(!l.contains("text#"), s"text rides a shuffle on production layout:\n$l\n$p")
  }

  test("q_decontaminate never shuffles document text") {
    // The semi-join and count exchange 8-byte xxhash64 gram digests + doc
    // ids; the raw text column must be consumed scan-side.
    assertNoColsOnExchanges(plan("q_decontaminate"), Seq("text"))
  }

  test("q_dedup_normalized never shuffles document text (digest-only exchange)") {
    // Same 100 TB property as q_decontaminate: normalization + md5 happen
    // scan-side, so the one exchange carries digests + ids, never bodies.
    assertNoColsOnExchanges(plan("q_dedup_normalized"), Seq("text"))
  }

  test("q_dedup_spans shuffles digests and positions, never text or token arrays") {
    // Both shuffles (dup-digest aggregate, position semi-join) and the
    // island-merge window must carry (8-byte xxhash64 digest, doc_id, pos)
    // rows only — the shingle text and the split token array die scan-side.
    assertNoColsOnExchanges(plan("q_dedup_spans"), Seq("text", "w"))
  }

  test("q_collocations broadcasts its single-row totals (no unhinted cross join)") {
    // Both corpus totals are 1-row aggregates; each crossJoin must plan
    // BroadcastNestedLoopJoin BY HINT — a CartesianProduct here would mean
    // the planner stopped noticing the size, and at 100 TB an unhinted
    // cross join against the vocabulary table is a full replication.
    val p = plan("q_collocations")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_gap_fill shuffles the wide event payload once (thin rows after)") {
    // The raw events shuffle ONCE for the (user, day) daily dedup — that
    // exchange legitimately carries ts/event_id for the latest-event
    // tiebreak. Every later exchange (grid bounds agg, fill window,
    // presentation sort) must move only (user_id, day, value)-thin rows:
    // ts, event_id, event_type, and props may never re-ride an exchange.
    val p = plan("q_gap_fill")
    assertNoColsOnExchanges(p, Seq("event_type", "props"))
    val lines = p.linesIterator.toVector
    val feeding = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Exchange") && i + 1 < lines.size => lines(i + 1)
    }
    // A partial HashAggregate prints its INPUT columns in functions=[...];
    // the exchange only carries the output=[...] columns — match those.
    def carried(l: String): String = {
      val out = "output=\\[[^\\]]*\\]".r.findFirstIn(l)
      out.getOrElse(l)
    }
    val wide = feeding.map(carried).count(l => l.contains("ts#") || l.contains("event_id#"))
    assert(wide <= 1, s"expected at most one exchange carrying raw event rows, got $wide:\n$p")
  }

  test("q_profile_columns profiles in ONE scan (Expand, no second read)") {
    // The multi-distinct aggregate plans a single events scan fanned out
    // by Expand — re-reading the table per column is the anti-pattern this
    // operator exists to avoid at 100 TB ingest audit time.
    val p = plan("q_profile_columns")
    assert(p.contains("Expand"), p)
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one events scan, got $scans:\n$p")
  }

  test("q_join_null_anti plans a null-aware anti join, not a nested loop") {
    // NOT IN over a nullable list is three-valued logic; the naive plan is
    // a BroadcastNestedLoopJoin (quadratic). Catalyst's single-column
    // null-aware anti join keeps it a hash join — the trailing `true` on
    // the BroadcastHashJoin is the isNullAwareAntiJoin flag. Also pin the
    // subquery's filter pushed into the orders scan.
    val p = plan("q_join_null_anti")
    assert("BroadcastHashJoin .*, LeftAnti, BuildRight, true".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("GreaterThan(o_totalprice"), p)
  }

  test("q_funnel stages are equi-joins on user_id with partial min-aggregates") {
    // Each funnel stage is events ⋈ survivors on user_id + min(ts): all
    // hash-strategy equi-joins (a nested-loop anywhere means the
    // time-window predicate leaked into the join condition) and every
    // stage min partial-aggregates map-side.
    val p = plan("q_funnel")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert("partial_min".r.findAllIn(p).size >= 4, p)
  }

  test("q_retention_cohort holds the last exchange to users x weeks") {
    // The distinct must aggregate BEFORE its exchange (partial
    // HashAggregate), so the final shuffle carries at most one row per
    // (user, week), never the event stream.
    val p = plan("q_retention_cohort")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_event_transitions normalizes over the aggregate, not the stream") {
    // One user-partitioned window for lead(), then a partial-agg'd count
    // down to |types|^2 rows; the probability window must sit above that
    // aggregate (its partition key is event_type — if it windowed the raw
    // stream the plan would show a second events-sized exchange).
    val p = plan("q_event_transitions")
    assert("partial_count".r.findAllIn(p).size >= 1, p)
    assert("Window".r.findAllIn(p).size >= 2, p)
  }

  test("q_lm_score broadcasts the single-row total and partial-aggregates counts") {
    // Same discipline as q_collocations: the corpus-total crossJoin must
    // be the hinted 1-row broadcast, and both the vocabulary count and
    // the per-doc sum partial-aggregate before their shuffles.
    val p = plan("q_lm_score")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("partial_count".r.findAllIn(p).size >= 2, p)
  }

  test("q_binary_ingest scans through the binaryFile source") {
    // The ingestion path must be the real production data source (one row
    // per object, content never re-read downstream), not a collected list.
    val p = plan("q_binary_ingest")
    assert(p.contains("binaryFile"), p)
  }

  test("q_anomaly_mad broadcasts the per-group fence tables into the event scans") {
    // The median and MAD fence tables are groups-sized; if either join
    // degraded to SortMergeJoin the full 100 TB event set would re-sort
    // and re-shuffle per fence application. >= 4, not >= 2: the two
    // exactPercentiles calls each contain an INTERNAL broadcast(targets)
    // join, so a 2-threshold would stay green even if both fence joins
    // (broadcast(med) into the deviation scan, broadcast(fences) into the
    // outlier scan) silently degraded — the exact property this pin
    // exists for. Belt-and-braces: no SortMergeJoin anywhere.
    val df = SparkEntry.queries("q_anomaly_mad")(spark, sf)
    df.collect() // finalize the adaptive plan before inspecting join strategies
    val p = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_rep_ngrams partial-aggregates the bigram explosion map-side") {
    // Without map-side combine the (doc_id, gram) shuffle is corpus-sized
    // exploded rows instead of per-doc vocabulary.
    val p = plan("q_rep_ngrams")
    assert("partial_count".r.findAllIn(p).size >= 1, p)
    assert("partial_sum|partial_max".r.findAllIn(p).size >= 1, p)
  }

  test("q_edit_similarity keeps the bounded pair join off CartesianProduct") {
    // The a<b theta join over the bounded slice must plan
    // BroadcastNestedLoopJoin (one side hinted tiny by the filter), not a
    // partition-cross CartesianProduct.
    val p = plan("q_edit_similarity")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"), p)
    assert(!p.contains("CartesianProduct"),
      s"bounded pair join degraded to CartesianProduct:\n$p")
  }

  test("q_dpp_join prunes fact partitions dynamically from the dim filter") {
    // The fact scan must carry a runtime `dynamicpruning` partition filter
    // fed by the dim side — the property that turns a 30-day scan into a
    // 3-day scan without a hand-written IN list.
    val df = SparkEntry.queries("q_dpp_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), p)
  }

  test("q_star_join pushes the date window to the orders scan and broadcasts dims") {
    // The Q5-shape cascade: the year filter must reach the orders scan's
    // PushedFilters (pruning row groups before any join), the pre-reduced
    // region⋈nation dim must arrive as a broadcast (never a shuffle of the
    // fact side against a 5-row table), the aggregate partial-aggregates,
    // and nothing degrades to a cartesian/nested-loop.
    val p = plan("q_star_join")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q_bm25 plans top-k, broadcast stats, and partial-agg'd counts") {
    // The rank cut must be TakeOrderedAndProject (per-partition top-10,
    // never a global sort of every scored doc); the 1-row corpus stats
    // ride the hinted BroadcastNestedLoopJoin (an unhinted crossJoin
    // would be a CartesianProduct); df broadcasts (|query| rows); tf and
    // df both partial-aggregate before their exchanges.
    val p = plan("q_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert("partial_count".r.findAllIn(p).size >= 2, p)
  }

  test("q_stats_corr merges co-moment buffers through one exchange") {
    // Every second-moment aggregate must partial-aggregate map-side (the
    // shuffle carries one co-moment buffer per group, never rows) and the
    // whole profile is a single hash exchange.
    val p = plan("q_stats_corr")
    assert(p.contains("partial_corr") && p.contains("partial_covar_samp") &&
      p.contains("partial_stddev_samp"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_topk_sketch moves only sketches after the scan") {
    // The accumulate must partial-aggregate before the per-day exchange
    // and the combine before the single-partition exchange — the ONLY
    // exchanges are (day, sketch) rows and one combined sketch; raw
    // events never shuffle.
    val p = plan("q_topk_sketch")
    assert(p.contains("partial_approx_top_k_accumulate"), p)
    assert(p.contains("partial_approx_top_k_combine"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_sessionize runs both windows and the session aggregate on one exchange") {
    // Gap flag, running session index, and the per-(user, session)
    // aggregate all consume the SAME user_id hash exchange (partitioning
    // on a prefix of the group keys co-locates the groups) — the whole
    // operator shuffles the events once.
    val p = plan("q_sessionize")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Window".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_min"), p)
  }

  test("q_win_distribution windows and re-sorts on one hash exchange") {
    val p = plan("q_win_distribution")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("percent_rank") && p.contains("cume_dist"), p)
  }

  test("q_listagg partial-aggregates the ordered concat buffers map-side") {
    // listagg buffers per-group element lists in partial mode too — the
    // exchange carries one buffer per (mapper, group), not raw rows.
    val p = plan("q_listagg")
    assert(p.contains("partial_listagg"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_hybrid_rank cuts both retriever legs to top-100 before ranking") {
    // Each leg must reduce through TakeOrderedAndProject(limit=100) BEFORE
    // its rank window — the windows then run over bounded lists (RRF's
    // fuse-retrieved-lists shape), never corpus-wide rank tables.
    val p = plan("q_hybrid_rank")
    assert("TakeOrderedAndProject\\(limit=100".r.findAllIn(p).size >= 2, p)
    assert(p.contains("TakeOrderedAndProject(limit=10,"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_incremental probes the index with digests only (anti join, no text)") {
    // Each ingest batch must cost O(batch) + an index probe: the anti
    // join and the within-batch window shuffle 16-byte digests + ids,
    // never document text.
    val p = plan("q_dedup_incremental")
    assert(p.contains("LeftAnti"), p)
    assertNoColsOnExchanges(p, Seq("text"))
  }

  // The r9 partial-oracle taps split the ANN entries' pipelines: the
  // registry entry's RETURNED plan starts at the tap read-back, so the
  // candidate-stage plan properties are pinned on the UNtapped probe
  // calls below — the identical code path (the tap parameter only
  // chooses where the pipeline is cut), probing the same canonical
  // persisted index the entries use.

  test("persisted-index probe prunes index partitions at the scan (PartitionFilters on cell_id)") {
    // The persisted-index probe's 100 TB property: the postings scan
    // must open ONLY the probed cells' partitions — a probe that reads
    // the whole index is a full corpus scan per query. Top-k stays
    // TakeOrderedAndProject (never a global sort of the probed cells).
    import org.apache.spark.sql.functions.col
    val dir = graft.ext.Ivf.ensureIvfIndex(spark, sf)
    val e = graft.core.Tables(spark, sf, "embeddings")
    val anchor = e.filter(col("vec_id") === 0)
      .head().getSeq[Float](e.columns.indexOf("embedding")).toArray
    val p = graft.ext.Ivf
      .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchor(anchor, Some(0L)), Ivf.TopK(10), nprobe = 4)
      .queryExecution.executedPlan.toString
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cell_id") && pf.contains("IN"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("batched probe prunes the postings scan, broadcasts anchors, group-limits top-k") {
    // The batched-retrieval 100 TB contract: (1) the postings scan opens
    // only the union of probed cells (PartitionFilters on cell_id — a
    // batch that reads the whole index is a corpus scan per batch);
    // (2) the Q*nprobe anchor-cell table BROADCASTS onto the pruned
    // postings (the postings side never shuffles); (3) per-anchor top-k
    // plans as WindowGroupLimit, cutting to Q*k rows group-locally
    // before any exchange.
    import org.apache.spark.sql.functions.col
    val dir = graft.ext.Ivf.ensureIvfIndex(spark, sf)
    val anchors = graft.core.Tables(spark, sf, "embeddings").filter(col("vec_id") < 8)
    val p = graft.ext.Ivf
      .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchors(anchors), Ivf.TopK(5), nprobe = 4)
      .queryExecution.executedPlan.toString
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cell_id") && pf.contains("IN"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("batched ADC probe scans codes, not vectors (ReadSchema excludes embedding)") {
    // The IVF-PQ IO story must be visible in the PLAN: the candidate
    // stage's postings scan reads (vec_id, code) — parquet column
    // pruning keeps the 256-byte embedding column out of the 8-byte
    // code stream. The embedding column appears only in the bounded
    // shortlist re-rank scan.
    import org.apache.spark.sql.functions.col
    val dir = graft.ext.Ivf.ensureIvfIndex(spark, sf)
    val anchors = graft.core.Tables(spark, sf, "embeddings").filter(col("vec_id") < 8)
    val p = graft.ext.Ivf
      .ivfQuery(Ivf.Stored(spark, dir), Ivf.Anchors(anchors), Ivf.TopK(5), nprobe = 4,
        scorer = Ivf.Adc())
      .queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    val codeScans = scans.filter(_.contains("code"))
    assert(codeScans.nonEmpty, p)
    assert(codeScans.forall(!_.contains("embedding")),
      s"ADC candidate scan must not read the embedding column:\n$p")
  }

  test("whole-stage codegen covers the scan->filter->project spine") {
    // AQE finalizes the plan only on execution; codegen stages show as
    // WholeStageCodegen nodes (or "*(n)" prefixes) in the final plan.
    val df = SparkEntry.queries("q_filter_basic")(spark, sf)
    df.collect() // count() would plan a separate query execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
  }
}
