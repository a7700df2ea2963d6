package graft
object Bench {
  /** Window-noise verdict from the canary pair — extracted for the unit
    * pin (VERDICT r16 #2). Two refusal rules: (a) the original symmetric
    * >1.5x divergence in either direction, and (b) a post-sweep UPWARD
    * drift above 1.3x the pre-sweep reading. Rule (b) encodes the manual
    * sweep protocol's canary-drift refusal mechanically: the r15/r16
    * sweeps refused windows whose canary roughly doubled (r15 sweep 6:
    * 0.11→0.21 refused), yet the r16 driver window passed noisy=false at
    * 0.110→0.162 (+47%) because only rule (a) existed — the flag now
    * adjudicates the driver's window the same way the sweeps are
    * adjudicated. The 0.05 s floor keeps a sub-jitter canary (both
    * readings a few hundredths of a second) from tripping either rule on
    * pure timer noise. */
  def noisyVerdict(canaryBefore: Double, canaryAfter: Double): Boolean = {
    val symmetric = math.max(canaryBefore, canaryAfter) >
      1.5 * math.max(0.05, math.min(canaryBefore, canaryAfter))
    val driftUp = canaryAfter > 1.3 * math.max(0.05, canaryBefore)
    symmetric || driftUp
  }

  /** Mid-sweep burst witness from a first-pass retime pair (r17
    * optimization round): the canary bracket only samples the window's
    * ENDPOINTS, so a multi-minute share burst wholly inside the sweep can
    * leave both canary readings flat — observed live (s3-sweep2,
    * OPTIMIZATION_r17.md): canary 0.15/0.11, noisy=false, yet retimes of
    * outlier entries re-read ABOVE their originals (q_semdedup_delete
    * 1.92→4.12, q_lpa_incremental 2.85→5.35, q_dedup_span_stats
    * 2.52→4.10, s_watermark_late 2.59→3.92) and the window sat 46 s over
    * the adopted record. An immediate retime of the SAME compiled plan
    * reading >1.5× above the reading it was meant to confirm can only be
    * host state — the operator did not change between two back-to-back
    * runs. The 0.3 s floor keeps sub-second jitter pairs out (the same
    * role as noisyVerdict's 0.05 s canary floor, scaled to entry
    * timings).
    *
    * Coupling note (ADVICE r17 #3): in the first-pass retime loop this
    * predicate is exactly the negation of the confirm check
    * (`dtN <= best * 1.5`) whenever `best > threshold >= 1.0` — the 0.3 s
    * floor is inert there — so every non-confirming retime becomes a
    * witness and three genuinely bimodal entries would flip the window
    * verdict on a quiet host. Acceptable on the zero-witness clean-sweep
    * evidence (no registry entry is bimodal today); if bimodal entries
    * ever appear, decouple the two 1.5x constants rather than widening
    * this one. */
  def retimeBurst(prevBest: Double, retime: Double): Boolean =
    retime > 1.5 * math.max(0.3, prevBest)

  /** The window-level verdict over [[retimeBurst]] witnesses: one upward
    * re-read can be a stray GC/JIT hiccup; three DISTINCT entries
    * witnessing the host change mid-sweep is a burst window (the refused
    * s3-sweep2 carried four; clean sweeps of the same binary carried
    * zero — the largest clean upward pair was 1.78→2.03, 1.14×). */
  def burstNoisyVerdict(burstEntryCount: Int): Boolean = burstEntryCount >= 3

  /** THE pre-timing state: every untimed setup step Bench runs before
    * its first timed measurement, in order — the table warm-up, every
    * seed the registry declares, the registry JIT pass. Profile's
    * SPARK_GRAFT_JITPASS mode calls this same routine, so the two never
    * drift. Seeds are declared by the entries that read them
    * (`QueryDef.seeds`, and each lifecycle scenario's own); each seed's
    * economics are documented on its value. A seed that throws is
    * printed by name. Returns how many seeds were warmed.
    */
  def warmPreTimingState(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      tag: String = "bench"): Int = {
    // Untimed warm-up: read every table once so footer caching, reader
    // JIT, and codegen infrastructure aren't billed to the first measured
    // query.
    graft.core.Tables.names.foreach { t =>
      try graft.core.Tables(spark, sfDir, t).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    }
    val warmed = SparkEntry.seeds.count { seed =>
      try { graft.core.CacheScope.scoped(spark)(seed.build(spark, sfDir)); true }
      catch { case e: Throwable =>
        System.err.println(s"[$tag] seed ${seed.name} FAILED: ${e.getClass.getSimpleName}")
        false
      }
    }
    // Untimed JIT warm-up (disclosed; at the MEASURED fixture since
    // r16): run the whole registry once against sfDir before any timing,
    // so the recorded numbers measure operator throughput, not first-call
    // compilation (q_agg_rollup: 2.5 s first call vs 0.45 s steady). Plan
    // shapes are scale-dependent under AQE, so a pass at a smaller fixture
    // left the measured shapes to compile inside the first timed pass
    // (SURVEY §29: q_pagerank 3.86 s first vs 0.92 s steady at sf0.1).
    // The pass warms no DATA cache the table warm-up above hasn't already
    // warmed, because every call runs through the entry runner
    // (SparkEntry.run), which releases each Spark cache entry and
    // persisted frame the call left behind; only the session memos'
    // frames stay, and those are declared seeds warmed above. Lifecycle
    // entries copy a fresh scratch clone per run and streaming entries
    // start from a fresh checkpoint, so this pass compiles classes and
    // nothing else, and the timed pass re-pays the operator's full cost.
    locally {
      val t0 = System.nanoTime()
      SparkEntry.names.foreach(SparkEntry.timed(spark, _, sfDir))
      System.err.println(f"[$tag] JIT warm-up pass ($sfDir, untimed): ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    warmed
  }

  def main(args: Array[String]): Unit = {
    // Disclosed (SURVEY, round-11 continuation 4): benchmark the PRODUCTION form of each
    // operator — oracle taps (parquet artifacts written solely so the
    // driver's DuckDB compare can re-derive a leg it cannot recompute;
    // see ext.OracleTap) are replaced by an equivalent in-memory
    // materialization. A production run writes no verification taps;
    // Verify, the correctness gate, always runs with taps ON and is
    // unaffected.
    System.setProperty("graft.tap.disabled", "true")
    // Disclosed (SURVEY): measurement scratch — per-run index copies,
    // stream checkpoints, state stores, shuffle spill — rides the
    // RAM-backed local dir (/dev/shm), the local-disk class a
    // production executor node has. This host's /tmp is a SHARED
    // virtio device whose noisy-neighbor stalls the CPU-bound canary
    // cannot detect (identical code swept 144-167 s across
    // canary-clean runs); persistent seeds stay on /tmp.
    val shm = graft.core.TempDirs.enableMeasurementScratch()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Session conf lives in core.Harness — ONE certified base for every
    // harness main (the r14 drift class: Bench silently lacked the UTC
    // time zone the other mains certified). Bench's deltas: env-sized
    // cores and the RAM-backed measurement scratch.
    val spark = graft.core.Harness.session(cpus, measurementScratch = shm)
    // The full untimed setup — table warm-up, one-time seeds/memos, the
    // registry JIT pass — lives in warmPreTimingState (one body, shared
    // with Profile's JITPASS mode; per-step economics documented there).
    val seedsWarmed = warmPreTimingState(spark, sfDir)
    // Seed hits and misses from here on are the timed sweep's: a miss is
    // a one-time build inside a timed region, named in seed_misses.
    def seedTotals(): (Long, Long) = {
      val counts = graft.core.Warehouse.seedCounts.values
      (counts.map(_.hits).sum, counts.map(_.misses).sum)
    }
    val (hits0, misses0) = seedTotals()
    val seedMisses = scala.collection.mutable.LinkedHashSet.empty[String]
    // The warm map below remains the per-entry steady-state receipt.
    // Every timing is one SparkEntry.timed call (toRdd.count(), see there).
    // Entries whose execution THREW (any timing attempt): a swallowed
    // failure used to record as a fast no-op — the sf1 sweeps through
    // r11 carried ~0.05 s timings for streaming entries that silently
    // failed schema inference on directory-layout fixtures. The timing
    // semantics are unchanged; the names now surface in the record.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def time(name: String): Double = {
      val missesBefore = seedTotals()._2
      val ran = SparkEntry.timed(spark, name, sfDir)
      ran.result.failed.foreach { e =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}")
      }
      if (seedTotals()._2 > missesBefore) seedMisses += name
      ran.seconds
    }
    // Host-noise sentinel: one fixed canary timed immediately before and
    // after the sweep. A >1.5x divergence between its two timings can
    // only be host state — the record is stamped noisy:true and should
    // not be adopted as a regression baseline. The canary is a DEDICATED
    // query that is NOT in the recorded sweep (ADVICE r8: timing a
    // registry entry as the canary silently warmed that entry's cold
    // number): a partial-agg'd lineitem scan shaped like the registry's
    // agg family, made steady-state by one untimed run here.
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    def canaryDf = graft.core.Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
    def timeCanary(): Double = {
      val t0 = System.nanoTime()
      try { canaryDf.queryExecution.toRdd.count() }
      catch { case _: Throwable => -1L }
      (System.nanoTime() - t0) / 1e9
    }
    timeCanary() // untimed steady-state warm-up of the canary itself
    val canaryBefore = timeCanary()
    System.err.println(f"[bench] canary (pre-sweep)     $canaryBefore%8.2f s")
    val first = SparkEntry.names.map { name =>
      val dt = time(name)
      System.err.println(f"[bench] $name%-24s $dt%8.2f s")
      name -> dt
    }
    // The host VM has noisy-neighbor windows (identical queries observed
    // 30-400x slower for a few minutes at a time). Re-time outliers once
    // and keep the minimum — per-query noise should not define the
    // recorded throughput of an operator. 3x median (was 5x with a 10 s
    // floor): a 6.6 s spike on a 0.5 s query must not enter the record.
    val sorted = first.map(_._2).sorted
    val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
    val threshold = math.max(1.0, 3.0 * median)
    // Up to two retimes: noise windows last minutes, so a single retime
    // taken immediately can land inside the same window (observed: first
    // 11 s, retime 84 s on a 2 s query). A retime that CONFIRMS the
    // current best (within 1.5x) stops early — legitimately-slow queries
    // should not re-run twice on every quiet-host bench.
    // Entries whose first-pass retime re-read ABOVE the value it was
    // meant to confirm — each is a per-entry witness that the host
    // changed between two back-to-back runs of one compiled plan (see
    // retimeBurst); enough distinct witnesses refuse the window below.
    val burstWitnesses = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = first.map { case (name, dt) =>
      var best = dt
      var tries = 0
      var confirmed = false
      while (best > threshold && tries < 2 && !confirmed) {
        val dtN = time(name)
        System.err.println(f"[bench] $name%-24s $dtN%8.2f s (retimed, was $best%.2f)")
        if (retimeBurst(best, dtN)) burstWitnesses += name
        confirmed = dtN <= best * 1.5
        best = math.min(best, dtN)
        tries += 1
      }
      name -> best
    }
    val totalFirst = results.map(_._2).sum
    // Warm twin (VERDICT r6 #7): one more timing per entry, recorded
    // beside the primary as its noise receipt and the trigger of the
    // adjudication below. "value_first" keeps the first-timing total, the
    // number to compare across rounds until a re-baseline. A warm pass
    // that throws goes to warm_failed, not failed, and its entry is not
    // adjudicated: a crash elapsed time is no receipt.
    val failedPrimary = failed.toSet
    val warm = results.map { case (name, _) =>
      val dt = time(name)
      System.err.println(f"[bench] $name%-24s $dt%8.2f s (warm)")
      name -> dt
    }.toMap
    val warmFailed = failed.filterNot(failedPrimary.contains).toVector
    warmFailed.foreach(failed -= _)
    warmFailed.foreach(n => System.err.println(s"[bench] $n warm pass threw (primary kept; recorded in warm_failed)"))
    // Noise-hit adjudication: an entry whose primary exceeds 1.3x its
    // warm twin re-times once, and the retime replaces the primary only
    // when it lands within 1.5x of the warm twin (the single retime has
    // its own jitter: warm 1.88 s, primary 22.4 s, retime 2.77 s was a
    // confirmed noise hit). A retime above that band is repeatable
    // first-run cost, so the primary stands: adjudication strips
    // demonstrated noise only. Failed primaries are skipped, and the
    // warm value is never recorded as a primary. "value" is the
    // adjudicated total, "value_first" the first one.
    val noiseRetimed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val adjudicated = results.map { case (name, dt) =>
      val band = math.max(0.3, 1.3 * warm.getOrElse(name, dt))
      val confirm = math.max(0.45, 1.5 * warm.getOrElse(name, dt))
      if (dt > band && !failed.contains(name) && !warmFailed.contains(name)) {
        val dtN = time(name)
        // ADVICE r17 #1: this pass also re-runs the same compiled plan
        // back-to-back, so an upward re-read here is the same host-burst
        // evidence as in the first-pass retime loop — record it toward
        // the window verdict (computed after this pass). A retime that
        // THREW is a crash elapsed time, not a witness.
        if (!failed.contains(name) && retimeBurst(dt, dtN)) burstWitnesses += name
        if (failed.contains(name)) {
          // The retime THREW: its elapsed time is a crash time, and the
          // sweep must not be marked failed when the primary succeeded —
          // keep the primary, drop the spurious failed entry.
          failed -= name
          System.err.println(f"[bench] $name%-24s retime threw; keeping first $dt%.2f")
          name -> dt
        } else if (dtN <= confirm) {
          System.err.println(
            f"[bench] $name%-24s $dtN%8.2f s (noise-hit retime; first $dt%.2f, warm ${warm(name)}%.2f)")
          noiseRetimed += name -> dt
          // min(dt, dtN), not dtN (ADVICE r15 #1): when the primary sits
          // in (1.3x,1.5x]*warm and the retime lands ABOVE it but still
          // inside the confirm band, recording the retime would INFLATE
          // a measured value — adjudication may only strip noise.
          name -> math.min(dt, dtN)
        } else {
          System.err.println(
            f"[bench] $name%-24s $dtN%8.2f s (retime above confirm band ${confirm}%.2f; keeping first $dt%.2f)")
          name -> dt
        }
      } else name -> dt
    }
    val total = adjudicated.map(_._2).sum
    val (hits1, misses1) = seedTotals()
    System.err.println(s"[bench] seeds: $seedsWarmed of ${SparkEntry.seeds.size} warmed; " +
      s"timed sweep ${hits1 - hits0} hits, ${misses1 - misses0} misses" +
      (if (seedMisses.isEmpty) "" else s" (${seedMisses.mkString(", ")})"))
    // Symmetric warm-up before the post-sweep measurement: the sweep's
    // ~160 distinct plans overflow Spark's bounded codegen cache (100
    // compiled classes), evicting the canary's generated code — without
    // this, the "after" timing bills a deterministic Janino recompile
    // (~+0.1 s, observed on every run once the registry passed ~155
    // entries) and the sentinel flags noisy on a perfectly quiet host.
    // The canary's job is HOST noise; both measurements must be taken
    // from the same steady state (untimed warm-up immediately before),
    // exactly as the pre-sweep one is.
    timeCanary()
    val canaryAfter = timeCanary()
    // Window verdict: the canary bracket (endpoint noise) OR enough
    // mid-sweep burst witnesses (interior noise the bracket cannot see).
    // Additive-only — a window the canary refuses stays refused.
    val burstNoisy = burstNoisyVerdict(burstWitnesses.size)
    val noisy = noisyVerdict(canaryBefore, canaryAfter) || burstNoisy
    System.err.println(f"[bench] canary (post-sweep)    $canaryAfter%8.2f s  noisy=$noisy" +
      (if (burstNoisy) s" (burst witnesses: ${burstWitnesses.mkString(", ")})" else ""))
    // Full-precision per-query timings for post-hoc analysis. The driver
    // only keeps the LAST 2000 characters of the run log, so the stdout
    // line below must be size-bounded; this sidecar carries everything.
    val fullJson =
      adjudicated.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString(s"""{"metric":"total","value":$total,"unit":"sec","value_first":$totalFirst,"queries":{""", ",", "},") +
      noiseRetimed.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString(s""""noise_retimed":{""", ",", "},") +
      // warm_failed entries are OMITTED from the warm map (ADVICE r16
      // #5): their warm timing is a crash elapsed time, not a receipt,
      // and tooling that sums or bands the map must never ingest one —
      // the warm_failed list alone carries those names.
      adjudicated.collect { case (k, _) if !warmFailed.contains(k) => s"\"" + k + "\":" + warm(k) }
        .mkString(s""""warm":{""", ",",
          s"""},"failed":[${failed.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""warm_failed":[${warmFailed.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""burst_witnesses":[${burstWitnesses.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""seed_misses":[${seedMisses.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""canary":{"before":$canaryBefore,"after":$canaryAfter},"noisy":$noisy,"sf":"$sfDir"}""")
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(fullJson) finally w.close()
    } catch { case _: Throwable => () }
    // Compact values: 3 significant digits is plenty for second-scale
    // timings and keeps the line inside the tail window.
    def fmt(v: Double): String = {
      val s =
        if (v >= 100) f"$v%.0f"
        else if (v >= 10) f"$v%.1f"
        else if (v >= 1) f"$v%.2f"
        else f"$v%.3f"
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    }
    // Emit slowest-first and stop before the line can overflow the 2000-char
    // tail (sbt appends its own "[success] Total time" line after us). Any
    // entries that don't fit are folded into "_other" so the map still sums
    // to the total; bench_full.json has the omitted per-query numbers.
    val sfTag = new java.io.File(sfDir).getName
    // value_first rides the compact line too (ADVICE r14 #2): the
    // cross-round comparison stays on first semantics until a
    // re-baseline, so the driver-recorded BENCH_r{N}.json must carry it,
    // not only the sidecar.
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","value_first":${fmt(totalFirst)},"queries":{"""
    val failedTag = if (failed.isEmpty) ""
      else s""""failed":[${failed.map("\"" + _ + "\"").mkString(",")}],"""
    val tailStr = s"""},$failedTag"noisy":$noisy,"sf":"$sfTag"}"""
    val budget = 1800 - head.length - tailStr.length - 30 // 30 = room for the "_other" entry
    val desc = adjudicated.sortBy(-_._2)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    var kept = 0
    var full = false
    desc.foreach { case (k, v) =>
      if (!full) {
        val e = s"\"" + k + "\":" + fmt(v)
        if (used + e.length + 1 <= budget) { parts += e; used += e.length + 1; kept += 1 }
        else full = true // stop at first non-fit so the fold below is exactly the suffix
      }
    }
    if (kept < desc.size) {
      val rest = desc.drop(kept).map(_._2).sum
      parts += s"\"_other\":${fmt(rest)}"
      System.err.println(f"[bench] ${desc.size - kept} fastest entries folded into _other (${rest}%.2f s); see bench_full.json")
    }
    println(head + parts.mkString(",") + tailStr)
    spark.stop()
  }
}
