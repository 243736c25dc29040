package graft.graph

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val S = Graph.Scale

  /** Driver-side replica of the integer fixed-point iteration — the spec
    * oracle for exact rank values. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
                          dPct: Long = 85L): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val out = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val teleport = ((100L - dPct) * S / 100L) / n
    var r = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to iters) {
      // dangling mass: sinks' rank shared uniformly (floor), like the
      // engine's per-round sink aggregation; 0 on symmetrized graphs
      val share = nodes.filterNot(out.contains).map(r).sum / n
      val in = edges.groupBy(_._2).view.mapValues(
        _.map(e => r(e._1) / out(e._1)).sum).toMap
      r = nodes.map(v =>
        v -> (teleport + dPct * (in.getOrElse(v, 0L) + share) / 100L))
        .toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long)].collect().toMap

  test("two-node symmetric graph is a fixpoint at S/2 each") {
    val edges = Seq((1L, 2L), (2L, 1L))
    assert(run(edges, 3) === Map(1L -> S / 2, 2L -> S / 2))
  }

  test("star graph: hub outranks leaves, mass ≈ conserved") {
    val leaves = (1L to 4L)
    val edges = leaves.flatMap(l => Seq((0L, l), (l, 0L)))
    val r = run(edges, 4)
    assert(leaves.forall(l => r(0L) > r(l)), s"hub must dominate: $r")
    val total = r.values.sum
    // floor divisions lose <1 unit per node per term per iteration
    assert(total <= S && total > S - 1000L, s"mass drifted: $total")
  }

  test("matches the driver-side integer reference on a random graph") {
    val rnd = new scala.util.Random(42)
    val base = (0 until 60).map(_ =>
      (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter(e => e._1 != e._2).distinct
    val sym = (base ++ base.map(_.swap)).distinct
    assert(run(sym, 3) === refPageRank(sym, 3))
  }

  test("directed graph with sinks: matches reference, conserves mass") {
    // a genuinely directed crawl-shaped graph: two hub pages linking
    // out to leaf pages that link nowhere — without sink redistribution
    // ~d of the leaves' mass would vanish every round
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L),
      (10L, 11L), (1L, 2L))
    val r = run(edges, 4)
    assert(r === refPageRank(edges, 4))
    val total = r.values.sum
    // redistribution keeps total rank within truncation slack of S;
    // the leak WITHOUT it would be ~d·(sink mass) ≈ 0.3·S per round
    assert(total <= S && total > S - 1000L,
      s"directed mass not conserved: $total vs $S")
  }

  test("random directed graph with sinks matches the reference") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 80).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2).distinct
    assert(run(base, 3) === refPageRank(base, 3))
  }

  test("weighted adamic-adar matches driver-side brute force") {
    val rnd = new scala.util.Random(11)
    val raw = (0 until 120).map(_ => (rnd.nextInt(12).toLong,
      rnd.nextInt(12).toLong, (rnd.nextInt(5) + 1).toLong))
      .filter(e => e._1 != e._2)
    // driver-side replica: canonical max-weight dedup, strengths,
    // per-edge sum over common neighbors of (w_uz+w_vz)·5e5/ln(1+s(z))
    val canon = raw.map { case (a, b, w) =>
      (math.min(a, b), math.max(a, b), w)
    }.groupBy(t => (t._1, t._2)).map { case ((x, y), ts) =>
      (x, y, ts.map(_._3).max)
    }.toSeq
    val adj = canon.flatMap { case (x, y, w) =>
      Seq((x, (y, w)), (y, (x, w)))
    }.groupBy(_._1).view.mapValues(_.map(_._2).toMap).toMap
    val s = adj.view.mapValues(_.values.sum).toMap
    val expected = canon.flatMap { case (x, y, _) =>
      val common = adj(x).keySet & adj(y).keySet
      if (common.isEmpty) None
      else Some(((x, y), (common.size.toLong,
        common.toSeq.map(z => math.round((adj(x)(z) + adj(y)(z)) *
          500000.0 / math.log(1.0 + s(z)))).sum)))
    }.toMap
    val got = Graph.adamicAdarWeighted(raw.toDF("a", "b", "w"),
        "a", "b", "w")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
  }

  test("fixpoint detection adds zero jobs (checksum rides the stage)") {
    // the convergence checksum and the sink sum are observe() metrics
    // on each round's own checkpoint job (Staging.stageObserved) — a
    // converged-mode run must schedule NO more jobs than a fixed-mode
    // run of the same round count (pre-refactor it paid one extra
    // aggregation job per round, a whole state-frame scan at 100 TB)
    val rnd = new scala.util.Random(7)
    val edges = (0 until 80).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2).distinct.toDF("src", "dst")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    def jobs(f: => Unit): Int = {
      spark.sparkContext.addSparkListener(l); counter.set(0)
      f
      // listener events are async — give the bus a beat to drain
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(l); counter.get()
    }
    Graph.pageRank(edges, "src", "dst", 3).count() // warm codegen/AQE
    val fixed = jobs(Graph.pageRank(edges, "src", "dst", 3).count())
    val conv = jobs {
      val (r, it) = Graph.pageRankConverged(edges, "src", "dst",
        maxIterations = 3)
      assert(it === 3, "graph must not converge early for a fair count")
      r.count(); ()
    }
    assert(conv <= fixed,
      s"fixpoint detection scheduled extra jobs: $conv vs $fixed")
  }

  test("empty edge list yields an empty ranking, not a crash") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(empty, "src", "dst", 3).count() === 0L)
  }

  test("triangle count matches brute force on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val n = 12 + trial * 4
      val edges = (0 until n * 3).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val undirected = edges
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val adj = undirected.toSet
      val nodes = undirected.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val brute = nodes.combinations(3).count { case Seq(a, b, c) =>
        adj((a, b)) && adj((a, c)) && adj((b, c))
      }
      // feed RAW noisy edges (dups + both orientations) — the operator
      // must normalize
      val got = Graph.triangleCount(
        (edges ++ edges.map(_.swap)).toDF("src", "dst"), "src", "dst")
        .as[Long].head()
      assert(got === brute.toLong, s"trial $trial")
    }
  }

  test("triangle count: clique and triangle-free cases") {
    // K5 has C(5,3)=10 triangles
    val k5 = (0L to 4L).combinations(2).map(s => (s(0), s(1))).toSeq
    assert(Graph.triangleCount(k5.toDF("a", "b"), "a", "b")
      .as[Long].head() === 10L)
    // a bipartite (star) graph has none
    val star = (1L to 6L).map(i => (0L, i))
    assert(Graph.triangleCount(star.toDF("a", "b"), "a", "b")
      .as[Long].head() === 0L)
  }

  test("adamic-adar matches driver-side brute force on a random graph") {
    val rnd = new scala.util.Random(23)
    val raw = (0 until 120).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2)
    val und = raw.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val expected = und.flatMap { case (a, b) =>
      val common = nbrs(a) intersect nbrs(b)
      if (common.isEmpty) None
      else Some((a, b) -> ((common.size.toLong,
        common.toSeq.map(w =>
          math.round(1000000.0 / math.log(nbrs(w).size))).sum)))
    }.toMap
    val got = Graph.adamicAdar(raw.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got === expected)
  }

  test("ranks are partitioning-independent") {
    val edges = (1L to 30L).flatMap(i =>
      Seq((i, i % 7 + 100L), (i % 7 + 100L, i)))
    val a = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    val b = Graph.pageRank(edges.toDF("src", "dst").repartition(7),
      "src", "dst", 3).as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("label propagation: two cliques bridged by one edge separate") {
    // K4 on {1..4}, K4 on {11..14}, bridge 4—11: after 2 rounds every
    // clique member should carry its clique's min id as community
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) ++ Seq((4L, 11L))
    val got = Graph.labelPropagation(edges.toDF("a", "b"), "a", "b", 2)
      .as[(Long, Long)].collect().toMap
    val left = Seq(1L, 2L, 3L, 4L).map(got)
    val right = Seq(11L, 12L, 13L, 14L).map(got)
    assert(left.distinct.size === 1, s"left clique split: $got")
    assert(right.distinct.size === 1, s"right clique split: $got")
    assert(left.head !== right.head, s"cliques merged: $got")
  }

  test("label propagation matches a driver-side sync replica") {
    // deterministic contract: argmax neighbor label, (count desc,
    // label asc) tie-break, labels seeded with node ids
    val edges = (1L to 24L).map(i => (i, i % 6 + 200L)) ++
      Seq((200L, 201L), (202L, 203L), (204L, 205L))
    def replica(rounds: Int): Map[Long, Long] = {
      val sym = (edges ++ edges.map(_.swap)).distinct
      val nbrs = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lbl = nbrs.keys.map(v => v -> v).toMap
      for (_ <- 1 to rounds) {
        lbl = nbrs.map { case (v, ns) =>
          val counts = ns.map(lbl).groupBy(identity).view
            .mapValues(_.size).toSeq
          v -> counts.minBy { case (l, c) => (-c, l) }._1
        }
      }
      lbl
    }
    val got = Graph
      .labelPropagation(edges.toDF("a", "b"), "a", "b", 3)
      .as[(Long, Long)].collect().toMap
    assert(got === replica(3))
    val gotRepart = Graph.labelPropagation(
      edges.toDF("a", "b").repartition(7), "a", "b", 3)
      .as[(Long, Long)].collect().toMap
    assert(gotRepart === replica(3))
  }

  test("pageRankConverged: early-stop equals a longer fixed run") {
    // symmetric 2-regular ring → uniform rank is an EXACT integer
    // fixpoint (every div divides evenly), so the checksum stop must
    // land on it; irregular graphs can ±1-unit limit-cycle instead,
    // where the iteration cap is the honest stop
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val edges = ring ++ ring.map(_.swap)
    val (ranksDf, iters) = Graph.pageRankConverged(
      edges.toDF("src", "dst"), "src", "dst", maxIterations = 60)
    val converged = ranksDf.as[(Long, Long)].collect().toMap
    assert(iters < 60, s"no fixpoint within the cap (ran $iters)")
    // running well past the detected fixpoint reproduces it exactly
    assert(converged === run(edges, iters + 10))
    assert(converged === refPageRank(edges, iters + 10))
  }

  test("labelPropagationConverged: stable assignment equals fixed run") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = clique(Seq(1L, 2L, 3L, 4L, 5L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) ++ Seq((5L, 11L))
    val (df, rounds) = Graph.labelPropagationConverged(
      edges.toDF("a", "b"), "a", "b", maxRounds = 40)
    val got = df.as[(Long, Long)].collect().toMap
    assert(rounds < 40, s"no stable assignment within the cap ($rounds)")
    val fixed = Graph
      .labelPropagation(edges.toDF("a", "b"), "a", "b", rounds + 5)
      .as[(Long, Long)].collect().toMap
    assert(got === fixed)
  }

  /** Driver-side replica of the integer PPR iteration. */
  private def refPpr(edges: Seq[(Long, Long)], seeds: Set[Long],
                     iters: Int, dPct: Long = 85L): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val out = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val inGraph = seeds.filter(nodes.contains)
    val tp = ((100L - dPct) * S / 100L) / inGraph.size
    var r = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to iters) {
      val share = nodes.filterNot(out.contains).map(r).sum / n
      val in = edges.groupBy(_._2).view.mapValues(
        _.map(e => r(e._1) / out(e._1)).sum).toMap
      r = nodes.map(v =>
        v -> ((if (inGraph(v)) tp else 0L) +
          dPct * (in.getOrElse(v, 0L) + share) / 100L)).toMap
    }
    r
  }

  test("personalized pagerank: mass concentrates at the seed") {
    // symmetric 4-ring — globally uniform, but seeding node 1 must
    // break the tie in its favor
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val edges = ring ++ ring.map(_.swap)
    val seeds = Seq(1L).toDF("node")
    val got = Graph.personalizedPageRank(edges.toDF("s", "d"), "s", "d",
        seeds, iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === refPpr(edges, Set(1L), 3))
    assert(Seq(2L, 3L, 4L).forall(v => got(1L) > got(v)),
      s"seed must outrank: $got")
  }

  test("personalized pagerank matches the replica with sinks present") {
    val rnd = new scala.util.Random(13)
    val edges = (0 until 70).map(_ =>
      (rnd.nextInt(15).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2).distinct
    val seedSet = Set(1L, 3L, 5L)
    val got = Graph.personalizedPageRank(edges.toDF("s", "d"), "s", "d",
        seedSet.toSeq.toDF("node"), iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === refPpr(edges, seedSet, 3))
  }

  /** Driver-side multi-source BFS replica. */
  private def refBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
                     maxHops: Int): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.map(_ -> 0).toMap
    var frontier = seeds
    for (h <- 1 to maxHops if frontier.nonEmpty) {
      val next = frontier.flatMap(adj.getOrElse(_, Nil))
        .filterNot(dist.contains)
      dist ++= next.map(_ -> h)
      frontier = next
    }
    dist
  }

  test("bfs hops: directed chain with a shortcut") {
    // 1→2→3→4→5 plus shortcut 1→4: node 4 is 1 hop, 5 is 2 hops; the
    // longer chain path must NOT overwrite the settled distance
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val got = Graph.bfsHops(edges.toDF("s", "d"), "s", "d",
        Seq(1L).toDF("node"), maxHops = 10)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
  }

  test("bfs hops matches the replica on a random multi-seed graph") {
    val rnd = new scala.util.Random(29)
    val edges = (0 until 80).map(_ =>
      (rnd.nextInt(18).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2).distinct
    val seeds = Set(0L, 7L, 24L)
    for (cap <- Seq(0, 1, 2, 10)) {
      val got = Graph.bfsHops(edges.toDF("s", "d"), "s", "d",
          seeds.toSeq.toDF("node"), maxHops = cap)
        .as[(Long, Int)].collect().toMap
      assert(got === refBfs(edges, seeds, cap), s"cap=$cap")
    }
  }

  test("bfs hops: seed absent from the graph still emits its row") {
    val got = Graph.bfsHops(Seq((1L, 2L)).toDF("s", "d"), "s", "d",
        Seq(99L).toDF("node"), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(99L -> 0))
  }

  /** Driver-side earliest-arrival Bellman-Ford replica (full
    * relaxation per round — equivalent to the engine's changed-only
    * frontier, min being idempotent). */
  private def refTemporal(edges: Seq[(Long, Long, Long)],
                          seeds: Set[Long], start: Long,
                          rounds: Int): Map[Long, Long] = {
    var arr = seeds.map(_ -> start).toMap
    for (_ <- 1 to rounds) {
      val cand = edges.flatMap { case (s, d, t) =>
        arr.get(s).filter(t >= _).map(_ => d -> t)
      }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      arr = (arr.keySet ++ cand.keySet).map(v =>
        v -> math.min(arr.getOrElse(v, Long.MaxValue),
          cand.getOrElse(v, Long.MaxValue))).toMap
    }
    arr
  }

  test("temporal reachability refuses edges that fired too early") {
    // 1 -(t=5)-> 2 -(t=3)-> 3: the second edge fired BEFORE the spread
    // reaches node 2, so node 3 stays unreached; 2 -(t=9)-> 4 works
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 3L), (2L, 4L, 9L))
    val got = Graph.temporalReachability(edges.toDF("s", "d", "ts"),
        "s", "d", "ts", Seq(1L).toDF("node"), startTs = 0L, maxHops = 5)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 5L, 4L -> 9L))
  }

  test("temporal reachability keeps the EARLIEST arrival") {
    // two time-respecting routes to node 3: via 2 arriving t=7, and a
    // direct late edge t=6 — the merge must keep 6
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 7L), (1L, 3L, 6L))
    val got = Graph.temporalReachability(edges.toDF("s", "d", "ts"),
        "s", "d", "ts", Seq(1L).toDF("node"), startTs = 0L, maxHops = 5)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 2L, 3L -> 6L))
  }

  test("temporal reachability matches the replica per round cap") {
    val rnd = new scala.util.Random(59)
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(15).toLong, rnd.nextInt(20).toLong,
        rnd.nextInt(50).toLong)).filter(e => e._1 != e._2).distinct
    val seeds = Set(0L, 5L)
    for (cap <- Seq(0, 1, 2, 4)) {
      val got = Graph.temporalReachability(edges.toDF("s", "d", "ts"),
          "s", "d", "ts", seeds.toSeq.toDF("node"), startTs = 10L,
          maxHops = cap)
        .as[(Long, Long)].collect().toMap
      assert(got === refTemporal(edges, seeds, 10L, cap), s"cap=$cap")
    }
  }

  /** Driver-side replica of the integer weighted-PageRank iteration
    * (BigInt at the per-edge product, floor division — the same
    * decimal(38,0) route the engine takes). */
  private def refWpr(edges: Seq[(Long, Long, Long)], iters: Int,
                     dPct: Long = 85L): Map[Long, Long] = {
    val comb = edges.filter(_._3 > 0)
      .groupBy(e => (e._1, e._2)).view.mapValues(_.map(_._3).sum)
      .toMap.toSeq.map { case ((s, d), w) => (s, d, w) }
    val nodes = comb.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val wsum = comb.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val tp = (100L - dPct) * S / 100L / n
    var r = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to iters) {
      val share = nodes.filterNot(wsum.contains).map(r).sum / n
      val in = comb.groupBy(_._2).view.mapValues(_.map(e =>
        (BigInt(r(e._1)) * e._3 / wsum(e._1)).toLong).sum).toMap
      r = nodes.map(v =>
        v -> (tp + dPct * (in.getOrElse(v, 0L) + share) / 100L)).toMap
    }
    r
  }

  test("weighted pagerank follows edge weight, not edge count") {
    // a splits 90/10 between b and c; with uniform pageRank they'd tie
    val edges = Seq((1L, 2L, 9L), (1L, 3L, 1L),
      (2L, 1L, 1L), (3L, 1L, 1L))
    val got = Graph.pageRankWeighted(edges.toDF("s", "d", "w"),
        "s", "d", "w", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === refWpr(edges, 3))
    assert(got(2L) > got(3L), s"heavier edge must win: $got")
  }

  test("weighted pagerank matches the replica with sinks and " +
      "parallel edges") {
    val rnd = new scala.util.Random(41)
    val edges = (0 until 90).map(_ =>
      (rnd.nextInt(14).toLong, rnd.nextInt(20).toLong,
        (rnd.nextInt(5) + 1).toLong))
      .filter(e => e._1 != e._2)
    val got = Graph.pageRankWeighted(edges.toDF("s", "d", "w"),
        "s", "d", "w", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === refWpr(edges, 3))
  }

  test("weighted pagerank with uniform weights equals pageRank") {
    val rnd = new scala.util.Random(47)
    val edges = (0 until 60).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(e => e._1 != e._2).distinct
    val wtd = Graph.pageRankWeighted(
        edges.map(e => (e._1, e._2, 1L)).toDF("s", "d", "w"),
        "s", "d", "w", iterations = 2)
      .as[(Long, Long)].collect().toMap
    val plain = Graph.pageRank(edges.toDF("s", "d"), "s", "d",
        iterations = 2)
      .as[(Long, Long)].collect().toMap
    assert(wtd === plain)
  }

  /** Driver-side replica of the integer HITS iteration (BigInt floor
    * arithmetic — the spec oracle for exact scores). */
  private def refHits(edges: Seq[(Long, Long)], iters: Int)
  : Map[Long, (Long, Long)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val sb = BigInt(S)
    var hub = nodes.map(_ -> BigInt(S / n)).toMap
    var auth = Map.empty[Long, BigInt]
    def normalize(raw: Map[Long, BigInt]): Map[Long, BigInt] = {
      val t = raw.values.sum
      raw.view.mapValues(v => v * sb / t).toMap
    }
    for (_ <- 1 to iters) {
      auth = normalize(edges.groupBy(_._2).view
        .mapValues(_.map(e => hub(e._1)).sum).toMap)
      hub = normalize(edges.groupBy(_._1).view
        .mapValues(_.map(e => auth(e._2)).sum).toMap)
    }
    nodes.map(v => v -> (
      hub.getOrElse(v, BigInt(0)).toLong,
      auth.getOrElse(v, BigInt(0)).toLong)).toMap
  }

  test("hits: bipartite star separates hubs from authorities") {
    // 1,2,3 point at 10; 1 also points at 11 — 10 is the authority,
    // 1 is the strongest hub (it reaches both authorities)
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L))
    val got = Graph.hits(edges.toDF("s", "d"), "s", "d", 2)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(10L)._2 > got(11L)._2, s"10 must out-authority 11: $got")
    assert(Seq(2L, 3L).forall(v => got(1L)._1 > got(v)._1),
      s"1 must be the top hub: $got")
    // pure hubs have auth 0; pure authorities have hub 0
    assert(Seq(1L, 2L, 3L).forall(v => got(v)._2 == 0L))
    assert(Seq(10L, 11L).forall(v => got(v)._1 == 0L))
    assert(got === refHits(edges, 2))
  }

  test("hits matches the BigInt reference on a random directed graph") {
    val rnd = new scala.util.Random(7)
    val edges = (0 until 80).map(_ =>
      (rnd.nextInt(12).toLong, (12 + rnd.nextInt(8)).toLong))
      .distinct
    val got = Graph.hits(edges.toDF("s", "d"), "s", "d", 3)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === refHits(edges, 3))
    // each L1-normalized score column sums to Scale minus floor dust
    val hubSum = got.values.map(_._1).sum
    val authSum = got.values.map(_._2).sum
    assert(hubSum <= S && hubSum > S - got.size,
      s"hub mass drifted: $hubSum")
    assert(authSum <= S && authSum > S - got.size,
      s"auth mass drifted: $authSum")
  }

  test("neighborhood jaccard matches brute force on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = (0 until 70).map(_ =>
      (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val expected = edges.flatMap { case (a, b) =>
      val common = (nbrs(a) & nbrs(b)).size.toLong
      if (common == 0) None
      else Some((a, b) -> (common,
        common * 1000000L / (nbrs(a).size + nbrs(b).size - common)))
    }.toMap
    val got = Graph.neighborhoodJaccard(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got === expected)
  }

  test("kcore: pendant peels off, triangle survives at k=2") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val got = Graph.kCorePeel(edges.toDF("a", "b"), "a", "b",
        k = 2, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kcore peel matches a driver-side synchronous replica") {
    def refPeel(edges: Seq[(Long, Long)], k: Int, rounds: Int)
    : Map[Long, Long] = {
      var e = edges.filter(p => p._1 != p._2)
        .map(p => (p._1 min p._2, p._1 max p._2)).distinct
      var kept = Set.empty[Long]
      var prev: Option[Set[Long]] = None
      var r = 0
      var converged = false
      while (r < rounds && !converged) {
        val deg = (e.map(_._1) ++ e.map(_._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        kept = deg.filter(_._2 >= k).keySet
        converged = prev.contains(kept)
        prev = Some(kept)
        if (!converged)
          e = e.filter(p => kept(p._1) && kept(p._2))
        r += 1
      }
      val deg = (e.map(_._1) ++ e.map(_._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      kept.map(v => v -> deg.getOrElse(v, 0L)).toMap
    }
    val rnd = new scala.util.Random(23)
    val edges = (0 until 90).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2).distinct
    for (rounds <- Seq(1, 2, 3)) {
      val got = Graph.kCorePeel(edges.toDF("a", "b"), "a", "b",
          k = 3, rounds = rounds)
        .as[(Long, Long)].collect().toMap
      assert(got === refPeel(edges, 3, rounds), s"rounds=$rounds")
    }
  }

  test("kcore fixpoint early-stop equals a much longer run") {
    val rnd = new scala.util.Random(31)
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2).distinct
    def runRounds(r: Int) =
      Graph.kCorePeel(edges.toDF("a", "b"), "a", "b", k = 3, rounds = r)
        .as[(Long, Long)].collect().toMap
    // 30 rounds is far past convergence on 25 nodes; 40 must agree
    assert(runRounds(30) === runRounds(40))
  }

  test("shortestPaths: hand graph — cheaper 2-hop beats direct edge") {
    // 1→2 w10 direct, but 1→3 w2 + 3→2 w3 = 5 is cheaper; 4 unreachable
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L),
      (4L, 5L, 1L))
    val got = Graph.shortestPaths(edges.toDF("s", "d", "w"), "s", "d",
        "w", Seq(1L).toDF("node"), maxRounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 5L, 3L -> 2L))
  }

  test("shortestPaths equals naive Bellman-Ford on random graphs") {
    val rnd = new scala.util.Random(17)
    val edges = (0 until 150).map(_ => (rnd.nextInt(30).toLong,
      rnd.nextInt(30).toLong, rnd.nextInt(9).toLong + 1))
      .filter(e => e._1 != e._2).distinct
    val seeds = Seq(0L, 7L)
    def naive(rounds: Int): Map[Long, Long] = {
      var dist = seeds.map(_ -> 0L).toMap
      (0 until rounds).foreach { _ =>
        val cand = edges.flatMap { case (s, d, w) =>
          dist.get(s).map(ds => d -> (ds + w))
        }.groupBy(_._1).map { case (n, cs) => n -> cs.map(_._2).min }
        dist = (dist.keySet ++ cand.keySet).map { n =>
          n -> math.min(dist.getOrElse(n, Long.MaxValue),
            cand.getOrElse(n, Long.MaxValue))
        }.toMap
      }
      dist
    }
    for (rounds <- Seq(1, 2, 4)) {
      val got = Graph.shortestPaths(edges.toDF("s", "d", "w"), "s", "d",
          "w", seeds.toDF("node"), maxRounds = rounds)
        .as[(Long, Long)].collect().toMap
      assert(got === naive(rounds), s"rounds=$rounds")
    }
  }

  test("shortestPaths fixpoint early-stop equals a longer run") {
    val rnd = new scala.util.Random(23)
    val edges = (0 until 100).map(_ => (rnd.nextInt(20).toLong,
      rnd.nextInt(20).toLong, rnd.nextInt(5).toLong + 1))
      .filter(e => e._1 != e._2).distinct
    def run(r: Int) =
      Graph.shortestPaths(edges.toDF("s", "d", "w"), "s", "d", "w",
          Seq(0L).toDF("node"), maxRounds = r)
        .as[(Long, Long)].collect().toMap
    assert(run(25) === run(40))
  }

  test("clusteringCoefficient equals the naive definition on random graphs") {
    val rnd = new scala.util.Random(29)
    val edges = (0 until 140).map(_ =>
      (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = edges.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val want = adj.map { case (v, ns) =>
      val d = ns.size.toLong
      val t = ns.toSeq.combinations(2)
        .count(p => adj(p(0)).contains(p(1))).toLong
      (v, d, t, if (d >= 2) t * 2000000L / (d * (d - 1)) else 0L)
    }.toSet
    val got = Graph.clusteringCoefficient(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.exists(_._3 > 0), "random graph should close triangles")
  }

  test("landmarkDistances keeps per-landmark hop counts separate") {
    // path graph 1−2−3−4 (symmetrized); landmarks 1 and 4 see the same
    // nodes at different distances
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (e0 ++ e0.map(_.swap)).toDF("s", "d")
    val got = Graph.landmarkDistances(edges, "s", "d",
        Seq(1L, 4L).toDF("node"), maxHops = 3)
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(
      (1L, 1L) -> 0, (1L, 2L) -> 1, (1L, 3L) -> 2, (1L, 4L) -> 3,
      (4L, 4L) -> 0, (4L, 3L) -> 1, (4L, 2L) -> 2, (4L, 1L) -> 3))
  }

  test("landmarkDistances releases its edge list on every exit") {
    // the staged result frames are local checkpoints, persisted by
    // design; anything else still persisted after the call is a leak
    def leaked(body: => Unit): Seq[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      body
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, rdd) => !before(id) && !rdd.isCheckpointed }
        .keys.toSeq
    }
    // a graph no other test uses: a plan another test left cached would
    // be reused, and this call would persist nothing new to observe
    val e0 = Seq((101L, 102L), (102L, 103L), (103L, 104L), (104L, 105L))
    def run(seeds: Seq[Long], maxHops: Int): Unit = {
      val edges = (e0 ++ e0.map(_.swap)).toDF("s", "d")
        .filter(col("s") =!= lit(-maxHops.toLong)) // a fresh plan per call
      Graph.landmarkDistances(edges, "s", "d", seeds.toDF("node"), maxHops)
        .collect(); ()
    }
    assert(leaked(run(Seq.empty, 3)).isEmpty, "empty seeds")
    assert(leaked(run(Seq(101L), 10)).isEmpty, "empty frontier")
    assert(leaked(run(Seq(101L), 2)).isEmpty, "hop cap reached")
  }

  test("landmarkDistances equals per-landmark bfsHops on random graphs") {
    val rnd = new scala.util.Random(41)
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(22).toLong, rnd.nextInt(22).toLong))
      .filter(e => e._1 != e._2).distinct
    val lms = Seq(0L, 5L, 11L)
    val got = Graph.landmarkDistances(edges.toDF("s", "d"), "s", "d",
        lms.toDF("node"), maxHops = 4)
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val want = lms.flatMap { lm =>
      Graph.bfsHops(edges.toDF("s", "d"), "s", "d",
          Seq(lm).toDF("node"), maxHops = 4)
        .as[(Long, Int)].collect()
        .map { case (n, h) => (lm, n) -> h }
    }.toMap
    assert(got === want)
  }
}
