package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

/** Graph family pins: PageRank's power iteration equals an independent
  * local reference on controlled graphs and conserves mass on the fixture
  * graph; BFS, cc and LPA match plain-Scala twins; the delta folds equal
  * their from-scratch recomputes at the seed's round count; ccOn's stop
  * test costs no job of its own; id checksums are exact past 2^63; and
  * Graph.scala writes each round count only as Iters / LpaRounds.
  */
class GraphSpec extends AnyFunSuite with SparkTest {

  /** Independent local PageRank (plain Scala maps) — the spec twin. */
  private def localPagerank(edges: Seq[(Long, Long)], iters: Int,
      damping: Double): Map[Long, Double] = {
    val nodes = edges.map(_._1).distinct.sorted
    val n = nodes.size.toDouble
    val out = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val inflow = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v => v -> ((1.0 - damping) / n +
        damping * inflow.getOrElse(v, 0.0))).toMap
    }
    r
  }

  /** The unnormalized iteration IS rank·n: divide by n for the classic
    * probabilities the local reference computes.
    */
  private def runOn(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    import spark.implicits._
    val ranks = Graph.prUnnormRanks(edges.toDF("src", "dst"), iters).last
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    ranks.view.mapValues(_ / ranks.size).toMap
  }

  test("a symmetric cycle's rank is exactly uniform at every iteration count") {
    // a→b→c→a plus reverse: out-degree 2 everywhere, perfectly regular —
    // the stationary distribution IS uniform, so any iteration count must
    // return 1/3 per node exactly (up to float addition).
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L))
    val got = runOn(cycle, iters = 3)
    got.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12, got))
  }

  test("a star graph matches the independent local reference rank-for-rank") {
    // Hub 0 ↔ leaves 1..5: strongly asymmetric ranks whose trajectory
    // exercises out-degree weighting and the (1-d)/N teleport term.
    val star = (1L to 5L).flatMap(l => Seq((0L, l), (l, 0L)))
    val expected = localPagerank(star, iters = 3, damping = 0.85)
    val got = runOn(star, iters = 3)
    assert(got.keySet == expected.keySet)
    got.foreach { case (node, r) =>
      assert(math.abs(r - expected(node)) < 1e-12, s"node $node: $r vs ${expected(node)}")
    }
    // Hub dominates, leaves tie.
    assert(got(0L) > got(1L) * 3)
    assert((1L to 5L).map(got).distinct.size == 1)
  }

  test("probability mass is conserved on the fixture bipartite graph") {
    // Unnormalized ranks start at 1 per node, so the mass stays n.
    val ranks = Graph.prUnnormRanks(Graph.bipartiteEdges(spark, "/root/testdata/sf0.001")).last
    val n = ranks.count().toDouble
    val mass = ranks.agg(org.apache.spark.sql.functions.sum("r")).head().getDouble(0)
    assert(math.abs(mass / n - 1.0) < 1e-9, s"rank mass drifted: $mass over $n nodes")
  }

  /** Independent local BFS — the spec twin for bfsOn. */
  private def localBfs(edges: Seq[(Long, Long)], src: Long, maxHops: Int): Map[Long, Int] = {
    var dist = Map(src -> 0)
    var frontier = Set(src)
    (1 to maxHops).foreach { d =>
      frontier = edges.filter(e => frontier(e._1)).map(_._2)
        .filterNot(dist.contains).toSet
      dist ++= frontier.map(_ -> d)
    }
    dist
  }

  private def bfsRun(edges: Seq[(Long, Long)], src: Long, maxHops: Int): Map[Long, Int] = {
    import spark.implicits._
    Graph.bfsOn(edges.toDF("src", "dst"), Seq(src).toDF("node"), maxHops)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  test("bfsOn: min-hop distances with a shortcut, directedness, and depth truncation") {
    // Chain 1→2→3→4→5→6 with shortcut 1→4 (so 4 is at hop 1, 5 at 2,
    // 6 at 3) and a back-edge 7→1 (7 is unreachable FROM 1 — direction
    // matters).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 4L), (7L, 1L))
    val got = bfsRun(edges, src = 1L, maxHops = 3)
    val expected = Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2, 6L -> 3)
    assert(got == expected)
    assert(got == localBfs(edges, 1L, 3))
    // Truncation: at maxHops=2 node 6 is not yet reached.
    assert(bfsRun(edges, 1L, 2) == expected.filter(_._2 <= 2))
  }

  test("bfsOn on a cycle: level sets stay node-bounded, distances exact") {
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    // 4 hops on a 3-cycle revisits every node; min-dist must win.
    assert(bfsRun(cycle, 1L, 4) == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("q_graph_bfs levels match an independent local BFS of the fixture graph") {
    import spark.implicits._
    val pairs = graft.core.Tables(spark, sf, "lineitem")
      .select("l_partkey", "l_suppkey").distinct()
      .as[(Long, Long)].collect().toSeq
    val base = 1000000L
    val edges = pairs.map { case (p, s) => (p, base + s) } ++
      pairs.map { case (p, s) => (base + s, p) }
    val src = pairs.map(_._1).min
    val dist = localBfs(edges, src, 4)
    val nodes = edges.map(_._1).distinct
    val levels = nodes.groupBy(n => dist.getOrElse(n, -1)).map { case (d, ns) =>
      (d, ns.size.toLong, ns.count(_ >= base).toLong, ns.sum)
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q_graph_bfs")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDecimal(3).longValueExact)).toSeq
    assert(got == levels)
  }

  /** Independent union-find — the cc spec twin. */
  private def localCc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  private def ccRun(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    import spark.implicits._
    val sym = edges.flatMap(e => Seq(e, e.swap)).distinct
    val (labels, rounds) = Graph.ccOn(sym.toDF("src", "dst"))
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("ccOn: planted components get exact min labels; isolated pairs stay separate") {
    val edges = Seq(
      (10L, 20L), (20L, 30L), (30L, 10L),   // triangle: comp 10
      (40L, 50L),                            // pair: comp 40
      (60L, 70L), (70L, 80L),                // chain: comp 60
      (90L, 91L))                            // pair: comp 90
    val (got, _) = ccRun(edges)
    assert(got == localCc(edges.flatMap(e => Seq(e, e.swap))))
    assert(got(30L) == 10L && got(50L) == 40L && got(80L) == 60L && got(91L) == 90L)
  }

  test("ccOn: pointer jumping converges in O(log d) rounds on a long path, to the exact fixpoint") {
    val n = 200L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val (got, rounds) = ccRun(edges)
    assert(got.values.toSet == Set(0L), "single component labeled by min node")
    assert(got.size == n)
    // diameter 199; plain propagation would need ~199 rounds. Pointer
    // jumping needs ~log2(199), counted in pairs (+1 detection pair).
    assert(rounds <= 16, s"pointer jumping should need ~log2(199)+slack rounds, took $rounds")
  }

  test("ccOn: ids near 2^62 converge without overflow, in the same rounds as small ids") {
    // Two 2-node components from 2^62: the label sum passes 2^63, which a
    // bigint convergence sum cannot hold under ANSI.
    val small = Seq((0L, 1L), (2L, 3L))
    val base = 1L << 62
    val (smallLabels, smallRounds) = ccRun(small)
    val (got, rounds) = ccRun(small.map { case (a, b) => (base + a, base + b) })
    assert(got == smallLabels.map { case (n, l) => (base + n, base + l) })
    assert(rounds == smallRounds)
  }

  test("ccOn: the stop test rides inside each round's job (fewer jobs per round)") {
    import spark.implicits._
    // A 64-node path takes 7 rounds. Each round is one checkpoint job plus
    // the broadcast and shuffle-map jobs AQE submits for its exchanges:
    // 37 jobs in all. Planning the round's aggregate twice (a pointer jump
    // through a second projection of it) makes 44, and a separate
    // label-sum action per round (one shuffle-map job plus one result job
    // under AQE) 60; the bound fails both.
    val path = (0L until 63L).map(i => (i, i + 1L))
    val edges = path.flatMap(e => Seq(e, e.swap)).toDF("src", "dst").localCheckpoint(true)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    // Drain earlier events before counting; wait for this run's to land.
    org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc, 10000)
    sc.addSparkListener(listener)
    val (labels, rounds) = try {
      val out = Graph.ccOn(edges)
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc, 10000)
      out
    } finally sc.removeSparkListener(listener)
    assert(labels.select("lbl").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(rounds == 7)
    assert(jobs.get().toDouble / rounds < 5.5, s"${jobs.get()} jobs over $rounds rounds")
  }

  test("id checksums sum node ids from 2^62 exactly, past 2^63") {
    import spark.implicits._
    // Bigint sums of these ids throw ARITHMETIC_OVERFLOW under ANSI.
    val base = 1L << 62
    def exact(ids: Long*) = ids.map(java.math.BigDecimal.valueOf).reduce(_ add _)
    // Two 2-node components: the min-label sum passes 2^63.
    val cc = Seq((base, base + 1), (base + 2, base + 3))
    val (labels, _) = Graph.ccOn(cc.flatMap(e => Seq(e, e.swap)).toDF("src", "dst"))
    val sizes = Graph.componentSizes(labels).collect()
    assert(sizes.map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2))).toSeq ==
      Seq((2L, 2L, exact(base, base + 2))))
    // One 3-clique community: the member sum passes 2^63.
    val clique = Seq((base, base + 1), (base + 1, base + 2), (base, base + 2))
    val lpa = Graph.labelPropOn(clique.flatMap(e => Seq(e, e.swap)).toDF("src", "dst")).collect()
    assert(lpa.map(r => (r.getLong(1), r.getDecimal(2))).toSeq ==
      Seq((3L, exact(base, base + 1, base + 2))))
  }

  test("q_graph_cc histogram matches an independent union-find of the sparse fixture subgraph") {
    import spark.implicits._
    val base = 1000000L
    val pairs = graft.core.Tables(spark, sf, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_quantity") <= 2.0)
      .select("l_partkey", "l_suppkey").distinct()
      .as[(Long, Long)].collect().toSeq
    val edges = pairs.flatMap { case (p, s) => Seq((p, base + s), (base + s, p)) }
    val comp = localCc(edges)
    val expected = comp.groupBy(_._2).map { case (lbl, m) => (lbl, m.size.toLong) }
      .groupBy(_._2).map { case (sz, comps) =>
        (sz, comps.size.toLong, comps.keys.sum)
      }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q_graph_cc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).longValueExact)).toSeq
    assert(got == expected)
  }

  test("ccMergeBatch: merges, attachments, new pairs, and internal edges all equal the full relabeling") {
    import spark.implicits._
    val base = Seq((1L, 2L), (3L, 4L), (5L, 6L), (10L, 11L))
    val baseSym = base.flatMap(e => Seq(e, e.swap))
    val (labels0, _) = Graph.ccOn(baseSym.toDF("src", "dst"))
    // batch: merge comps 1 and 3 (edge 2-3), attach new node 9 to comp 5,
    // a brand-new isolated pair (20,21), and a no-op internal edge (10,11).
    val batch = Seq((2L, 3L), (9L, 5L), (20L, 21L), (10L, 11L))
    val got = Graph.ccMergeBatch(labels0, batch.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = localCc(baseSym ++ batch.flatMap(e => Seq(e, e.swap)))
    assert(got == full)
    assert(got(3L) == 1L && got(9L) == 5L && got(21L) == 20L && got(11L) == 10L)
  }

  test("ccMergeBatch with a no-new-information batch returns the labeling unchanged") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L))
    val baseSym = base.flatMap(e => Seq(e, e.swap))
    val (labels0, _) = Graph.ccOn(baseSym.toDF("src", "dst"))
    val got = Graph.ccMergeBatch(labels0, Seq((1L, 3L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("q_graph_cc_incremental equals an independent union-find of the UNION graph") {
    import spark.implicits._
    val base = 1000000L
    val pairs = graft.core.Tables(spark, sf, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_quantity") <= 2.0 ||
        org.apache.spark.sql.functions.col("l_quantity") === 3.0)
      .select("l_partkey", "l_suppkey").distinct()
      .as[(Long, Long)].collect().toSeq
    val edges = pairs.flatMap { case (p, s) => Seq((p, base + s), (base + s, p)) }
    val comp = localCc(edges)
    val expected = comp.groupBy(_._2).map { case (lbl, m) => (lbl, m.size.toLong) }
      .groupBy(_._2).map { case (sz, comps) =>
        (sz, comps.size.toLong, comps.keys.sum)
      }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q_graph_cc_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).longValueExact)).toSeq
    assert(got == expected)
  }

  test("triangleStats matches hand-counted motifs on controlled graphs") {
    import spark.implicits._
    def stats(edges: Seq[(Long, Long)]): (Long, Long, Long, Long, Double) = {
      val r = Graph.triangleStats(edges.toDF("u", "v")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    }
    // K4: every vertex degree 3 → wedges 4·C(3,2)=12, triangles C(4,3)=4,
    // clustering 3·4/12 = 1 exactly.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(stats(k4) == ((4L, 6L, 12L, 4L, 1.0)))
    // A 4-path has two wedges and no closing edge.
    assert(stats(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == ((4L, 3L, 2L, 0L, 0.0)))
    // Triangle + pendant: wedges 3 + C(2,2)... degrees are (2,3,2,1) →
    // 1+3+1+0 = 5 wedges, 1 triangle, clustering 3/5.
    assert(stats(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))) ==
      ((4L, 4L, 5L, 1L, 0.6)))
  }

  test("labelPropOn matches an independent synchronous-LPA replay and separates planted cliques") {
    import spark.implicits._
    // Two 5-cliques plus a 3-path appendage on the second: communities
    // must not leak across the (absent) bridge.
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val und = clique(1L to 5L) ++ clique(11L to 15L) ++ Seq((15L, 21L), (21L, 22L))
    val sym = und ++ und.map(_.swap)
    val got = Graph.labelPropOn(sym.toDF("src", "dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).longValueExact)).toSeq
    // Independent plain-Scala replay of the declared semantics:
    // 3 synchronous rounds, neighbor-majority, (count desc, label asc).
    val nbrs = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = nbrs.keys.map(n => n -> n).toMap
    (1 to 3).foreach { _ =>
      lbl = nbrs.map { case (n, ns) =>
        val counts = ns.groupBy(lbl).view.mapValues(_.size).toSeq
        n -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val expect = lbl.groupBy(_._2).map { case (l, m) =>
      (l, m.size.toLong, m.keys.sum)
    }.toSeq.sortBy { case (l, s, _) => (-s, l) }
      .map { case (l, s, c) => (l, s, c) }
    assert(got == expect)
    // and the planted structure separated: nodes 1-5 share one label,
    // 11-15 (+ appendage or not) share another, disjoint from the first
    val communityOf = lbl
    assert((1L to 5L).map(communityOf).distinct.size == 1)
    assert((11L to 15L).map(communityOf).distinct.size == 1)
    assert(communityOf(1L) != communityOf(11L))
  }

  test("one iteration is one aggregation exchange over the contribution join") {
    import spark.implicits._
    val edges = (1L to 50L).map(i => (i, i % 7 + 1)).toDF("src", "dst")
    val one = Graph.prUnnormRanks(edges, iters = 1).last
    // Lazy chain: pin the one-shuffle-per-iteration shape — exactly one
    // aggregation pair (partial+final) per iteration beyond the degree
    // aggregate, and a node-sized output of finite ranks.
    val rows = one.collect()
    assert(rows.length == 50)
    assert(rows.forall(r => !r.getDouble(1).isNaN && r.getDouble(1) > 0))
  }

  test("prMergeBatch: new edges, new nodes, and untouched nodes all equal the full recompute") {
    import spark.implicits._
    // Two disjoint clusters plus a far-away pair the batch never touches.
    val base = Seq((1L, 2L), (2L, 3L), (4L, 5L), (100L, 101L))
      .flatMap(e => Seq(e, e.swap))
    val baseDf = base.toDF("src", "dst")
    val seed = Graph.prSeedFrame(baseDf, 3).persist()
    // Batch: bridge the clusters (3-4) and attach a brand-new pair (9,10)
    // to node 1 — degree changes, rank pushes, and unseen nodes at once.
    val batch = Seq((3L, 4L), (9L, 1L), (9L, 10L)).flatMap(e => Seq(e, e.swap))
    val got = Graph.prMergeBatch(seed, baseDf, batch.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val full = Graph.prUnnormRanks((base ++ batch).toDF("src", "dst"), 3).last
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == full.keySet)
    full.foreach { case (n, r) =>
      assert(math.abs(got(n) - r) < 1e-9, s"node $n: merged ${got(n)} vs full $r")
    }
    // The delta property: nodes outside the 3-hop push frontier keep
    // their seed rank BITS (100/101 are untouched by construction).
    val seedR3 = seed.select("node", "r3").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(100L) == seedR3(100L) && got(101L) == seedR3(101L))
  }

  test("prMergeBatch with an empty batch returns the seed ranks unchanged") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L)).flatMap(e => Seq(e, e.swap))
    val baseDf = base.toDF("src", "dst")
    val seed = Graph.prSeedFrame(baseDf, 3)
    val got = Graph.prMergeBatch(seed, baseDf,
      Seq.empty[(Long, Long)].toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val seedR3 = seed.select("node", "r3").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == seedR3)
  }

  test("q_pagerank_incremental equals the from-scratch unnormalized recompute on the union graph") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_pagerank_incremental")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val full = Graph.prUnnormRanks(
      Graph.prBaseEdges(spark, sf).unionByName(Graph.prBatchEdges(spark, sf)), 3).last
    val base = 1000000L
    val expect = full
      .select(
        when(col("node") >= base, lit("supplier")).otherwise(lit("part")).as("t"),
        when(col("node") >= base, col("node") - base).otherwise(col("node")).as("id"),
        round(col("r"), 6).as("nr"))
      .orderBy(col("nr").desc, col("t"), col("id")).limit(100)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 100 && got.sameElements(expect))
  }

  test("lpaMergeBatch: new edges, new nodes, and untouched nodes all equal the full rerun") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Two communities (a path and a triangle-ish cluster) plus a far
    // pair the batch never reaches within 3 rounds.
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 6L), (6L, 7L), (100L, 101L))
      .flatMap(e => Seq(e, e.swap))
    val baseDf = base.toDF("src", "dst")
    val seed = Graph.lpaSeedFrame(baseDf, 3).persist()
    // Batch: bridge the communities (3-5), attach a brand-new pair
    // (9,10) to node 1 — vote-multiset changes, label pushes, and
    // previously-unseen nodes at once.
    val batch = Seq((3L, 5L), (9L, 1L), (9L, 10L)).flatMap(e => Seq(e, e.swap))
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = labelsOf(Graph.lpaMergeBatch(seed, baseDf, batch.toDF("src", "dst")))
    val full = labelsOf(Graph.lpaRoundLabels((base ++ batch).toDF("src", "dst"), 3).last)
    assert(got == full)
    // The delta property: nodes outside the batch's 3-round influence
    // ball keep their seed labels (100/101 untouched by construction).
    val seedL3 = labelsOf(seed.select(col("node"), col("l3").as("lbl")))
    assert(got(100L) == seedL3(100L) && got(101L) == seedL3(101L))
  }

  test("lpaMergeBatch with an empty batch returns the seed labels unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Seq((1L, 2L), (2L, 3L)).flatMap(e => Seq(e, e.swap))
    val baseDf = base.toDF("src", "dst")
    val seed = Graph.lpaSeedFrame(baseDf, 3)
    val got = Graph.lpaMergeBatch(seed, baseDf,
      Seq.empty[(Long, Long)].toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seedL3 = seed.select(col("node"), col("l3")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == seedL3)
  }

  test("q_lpa_incremental equals the from-scratch LPA rerun on the union graph") {
    val got = SparkEntry.queries("q_lpa_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2)))
    val union = Graph.prBaseEdges(spark, sf).unionByName(Graph.prBatchEdges(spark, sf))
    val expect = Graph.labelPropOn(union).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2)))
    assert(got.nonEmpty && got.sameElements(expect))
  }

  test("the delta folds run the seed's round count: a 2-round pagerank and a 4-round lpa seed") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 6L), (6L, 7L), (100L, 101L))
      .flatMap(e => Seq(e, e.swap))
    val batch = Seq((3L, 5L), (9L, 1L), (9L, 10L)).flatMap(e => Seq(e, e.swap))
    val baseDf = base.toDF("src", "dst")
    val batchDf = batch.toDF("src", "dst")
    val union = (base ++ batch).toDF("src", "dst")
    def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // The round count decides the answer on this graph: the 2-round ranks
    // are not the 3-round ones, and the 2-node pair's labels swap every
    // round, so the 4-round labels are not the 3-round ones.
    val pr2 = ranksOf(Graph.prUnnormRanks(union, 2).last)
    assert(pr2 != ranksOf(Graph.prUnnormRanks(union, 3).last))
    val lpa4 = labelsOf(Graph.lpaRoundLabels(union, 4).last)
    assert(lpa4 != labelsOf(Graph.lpaRoundLabels(union, 3).last))
    val prSeed = Graph.prSeedFrame(baseDf, 2)
    assert(prSeed.columns.toSeq == Seq("node", "outdeg", "r1", "r2"))
    val pr = ranksOf(Graph.prMergeBatch(prSeed, baseDf, batchDf))
    assert(pr.keySet == pr2.keySet)
    pr2.foreach { case (n, r) =>
      assert(math.abs(pr(n) - r) < 1e-9, s"node $n: merged ${pr(n)} vs full $r")
    }
    val lpaSeed = Graph.lpaSeedFrame(baseDf, 4)
    assert(lpaSeed.columns.toSeq == Seq("node", "l1", "l2", "l3", "l4"))
    assert(labelsOf(Graph.lpaMergeBatch(lpaSeed, baseDf, batchDf)) == lpa4)
  }

  test("Graph.scala writes no round count outside Iters and LpaRounds") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/ops/Graph.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    // A round column named by a literal ("r3", "l1"), and a round call
    // given a literal round count (one level of nested parentheses).
    val roundColumn = "\"[rl][0-9]+\"".r
    val roundCall = """\b(prUnnormRanks|lpaRoundLabels|prSeedFrame|lpaSeedFrame|prRoundCtes|lpaRoundCtes)\(""".r
    val literalRounds = (roundCall.regex + """(?:[^()]|\([^()]*\))*?,\s*[0-9]+\s*[,)]""").r
    val lines = src.linesIterator.toSeq
    for ((line, i) <- lines.zipWithIndex) {
      assert(roundColumn.findFirstIn(line).isEmpty, s"Graph.scala:${i + 1} names a round column: ${line.trim}")
      assert(literalRounds.findFirstIn(line).isEmpty, s"Graph.scala:${i + 1} passes a literal round count: ${line.trim}")
    }
    assert(lines.exists(roundCall.findFirstIn(_).isDefined), "the round calls are gone; update the guard")
  }
}
