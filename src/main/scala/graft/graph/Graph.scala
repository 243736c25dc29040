package graft.graph

import graft.Staging._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge DataFrames.
  *
  * Complements [[graft.dedup.Dedup.connectedComponents]] (min-label
  * propagation): where CC answers "which docs form one duplicate
  * cluster", PageRank answers "which nodes matter" — the standard
  * quality prior for web-crawl training corpora (rank the host/domain
  * graph, keep high-rank sources; cf. Page et al. '99, Common Crawl's
  * harmonic-centrality ranking).
  *
  * All arithmetic is integer (scaled fixed-point, `div` floor division):
  * rank mass never passes through a double, so sums are associative,
  * results are bit-identical across partitionings/engines, and the
  * DuckDB oracle can unroll the same iterations in SQL. The cost of the
  * fixed point is ≤1 unit of truncation per node per term — invisible at
  * SCALE = 1e12.
  */
object Graph {

  /** Fixed-point scale: total rank mass ≈ 1e12 ("rank picos"). */
  val Scale: Long = 1000000000000L

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** PageRank over a directed edge list, k fixed iterations.
    *
    * DANGLING NODES (out-degree 0) are handled honestly: their rank
    * mass is redistributed uniformly each iteration (the standard
    * stochastic-matrix patch, Page et al. '99 §2.5) — every node's
    * update becomes teleport + d·(in_sum + S div N) div 100 where S is
    * the previous round's total sink rank. A genuinely directed graph
    * (real web/host crawl) therefore conserves total rank mass instead
    * of silently leaking it; GraphSpec pins conservation to within one
    * truncation unit per node. Symmetrized graphs have no sinks, the
    * sink term is provably zero, and the loop skips the per-round sink
    * aggregation entirely — bit-identical to the pre-sink formulation.
    * When sinks exist the cost is ONE scalar aggregation per round
    * (same class as the convergence checksum); no extra join — the
    * sink flag rides the staged node set.
    *
    * Shape per iteration: ranks ⋈ out-degreed edges on `src` (one
    * shuffle on src), contributions re-keyed and summed per `dst` (one
    * shuffle on dst), left-join back onto the node set so in-degree-0
    * nodes keep their teleport share. Edges + degrees are staged ONCE
    * (`Staging.stage`) and reused by every iteration; each iteration
    * is checkpointed so lineage stays flat — the driver never sees a
    * row. At 100 TB the edge list partitioning on `src` is reused
    * across all k ranks⋈edges joins.
    *
    * damping is expressed as a percent (85 ≡ 0.85) to stay integer.
    *
    * @return (node: long, rank_micro: long) — rank scaled by [[Scale]]
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, dampingPct: Int = 85): DataFrame =
    runPageRank(edges, srcCol, dstCol, iterations, dampingPct,
      stopOnFixpoint = false)._1

  /** [[pageRank]] with convergence-based stopping: runs until the
    * integer rank vector reaches its fixpoint (or `maxIterations`),
    * detected by an UNCHANGED checksum over the (node, rank) pairs —
    * one scan-local hash-sum aggregation per round, the same pattern
    * [[graft.dedup.Dedup.connectedComponents]] stops with. Exact
    * integer arithmetic is what makes the fixpoint well-defined: once
    * two consecutive rank vectors are identical, every later iteration
    * reproduces them, so early-stop ≡ any longer fixed run
    * (`GraphSpec` pins the equivalence). Caveat: `div` truncation can
    * trap irregular graphs in a ±1-unit limit CYCLE instead of a
    * period-1 fixpoint — there the cap is the honest stop (ranks are
    * then within a pico of stationary anyway). Iterations run are
    * logged and returned so callers can record convergence behavior. */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
                        maxIterations: Int = 50, dampingPct: Int = 85)
  : (DataFrame, Int) = {
    val (ranks, iters) = runPageRank(edges, srcCol, dstCol,
      maxIterations, dampingPct, stopOnFixpoint = true)
    (ranks, iters)
  }

  /** Checksum metric for an integer-valued per-node state frame: the
    * sum of each row's 64-bit hash, exact in decimal. Consecutive-round
    * equality means the state reached its fixpoint (collision odds
    * ~2⁻⁶⁴ per comparison). Attached as an `observe()` metric on each
    * round's OWN staging action ([[graft.Staging.stageObserved]]), so
    * fixpoint detection costs zero extra jobs — previously a separate
    * aggregation scan ran per round. */
  private def checksumMetric(cols: Seq[String])
  : org.apache.spark.sql.Column =
    coalesce(
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("ck")

  private def runPageRank(edges: DataFrame, srcCol: String,
                          dstCol: String, iterations: Int,
                          dampingPct: Int, stopOnFixpoint: Boolean)
  : (DataFrame, Int) = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100]: $dampingPct")

    // stage the (possibly expensive) edge pipeline once — nodes, degrees,
    // and the iteration join all read it
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .stage()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .stage()
    // one bounded scalar on the driver (like Lloyd's k centroids) — the
    // teleport term needs N inside an integer expression
    val n = nodes.count()
    // empty graph: no nodes to rank (the CC empty-pair-table case) —
    // return the empty frame instead of dividing by zero below
    if (n == 0L)
      return (nodes.select(col("node"), lit(0L).as("rank_micro")), 0)
    // (1 - d) * SCALE / N in pure integer: ((100 - d) * SCALE div 100) div N
    val teleport = ((100L - dampingPct) * Scale / 100L) / n

    // out-degree joined onto the edge list once, hash-partitioned on the
    // join key and persisted (NOT checkpointed: persist keeps
    // outputPartitioning visible to the planner, so each iteration
    // shuffles only the small ranks side — the E-row edge list is
    // exchanged exactly once no matter how many iterations run)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out"))
    val eDeg = e.join(outDeg, "src").repartition(col("src")).persist()

    // dangling-node flag staged onto the node set ONCE: nodes absent
    // from outDeg are sinks whose mass must be redistributed. nSinks is
    // one bounded driver scalar; when it is 0 (symmetrized graphs) the
    // per-round sink aggregation never runs and the update expression
    // is the sink-free one, unchanged to the bit.
    val flagged = nodes
      .join(outDeg.select(col("src").as("node"),
        lit(true).as("has_out")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("has_out"), lit(false)).as("has_out"))
      .stage()
    val nSinks = flagged.filter(!col("has_out")).count()

    // each iteration is checkpointed (the Pregel pattern, same as CC's
    // rounds): measured at sf0.1 the per-round materialization runs the
    // 3-iteration loop in ~3 s where the single fused lazy plan took
    // ~12 s — one deep composite plan re-plans every iteration's join
    // tree together and the optimizer/AQE cost grows superlinearly with
    // depth, while per-round checkpoints keep every job the same small
    // shape and the lineage flat at ANY iteration count
    var ranks = flagged.select(col("node"), col("has_out"),
      lit(Scale / n).as("rank_micro"))
    // initial sink mass in closed form — ranks start uniform, so no job
    var sinkSum: Long = nSinks * (Scale / n)
    var prevSum: java.math.BigDecimal = null
    var iter = 0
    var converged = false
    while (iter < iterations && !converged) {
      // previous round's sink mass shared out per node: carried by the
      // previous staging action's observation (zero extra jobs);
      // symmetrized graphs have sinkSum = 0 throughout
      val sinkShare: Long = if (nSinks == 0L) 0L else sinkSum / n
      // shuffle_hash on the node-sized sides (guide §3.1): the default
      // SortMergeJoin re-SORTS the persisted E-row eDeg side every
      // round (persist pins rows, not order). Hashing builds the
      // bounded ranks/contrib side instead and streams eDeg unsorted —
      // per round: one exchange of the node-sized frame, zero E-row
      // sorts. (At plan-time-known small sizes Spark may still pick
      // broadcast, which is strictly better; at scale the hint holds.)
      val contrib = eDeg.join(ranks.hint("shuffle_hash"),
          eDeg("src") === ranks("node"))
        .select(eDeg("dst").as("node"),
          expr("rank_micro div out").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("in_sum"))
      val next = flagged.join(contrib.hint("shuffle_hash"),
          Seq("node"), "left")
        .select(col("node"), col("has_out"),
          (lit(teleport) +
            expr(s"($dampingPct * (coalesce(in_sum, 0L) + $sinkShare))" +
              " div 100"))
            .as("rank_micro"))
      // fixpoint checksum and next sink sum both ride the round's own
      // checkpoint job as observe() metrics — the loop runs exactly one
      // job per iteration regardless of convergence mode or sinks
      if (stopOnFixpoint || nSinks > 0L) {
        val metrics =
          (if (stopOnFixpoint)
            Seq(checksumMetric(Seq("node", "rank_micro"))) else Nil) ++
          (if (nSinks > 0L)
            Seq(coalesce(sum(when(!col("has_out"), col("rank_micro"))),
              lit(0L)).cast("long").as("sink_sum")) else Nil)
        val (staged, row) = graft.Staging.stageObserved(next, metrics: _*)
        ranks = staged
        if (nSinks > 0L) sinkSum = row("sink_sum").asInstanceOf[Long]
        if (stopOnFixpoint) {
          val s = row("ck").asInstanceOf[java.math.BigDecimal]
          converged = prevSum != null && s.compareTo(prevSum) == 0
          prevSum = s
        }
      } else ranks = next.stage()
      iter += 1
    }
    eDeg.unpersist()
    if (stopOnFixpoint) {
      if (converged)
        log.info(s"pageRankConverged: fixpoint after $iter iterations " +
          s"(cap $iterations)")
      else
        log.info(s"pageRankConverged: cap $iterations reached WITHOUT " +
          "a fixpoint (integer limit cycle) — ranks are within one " +
          "unit of stationary")
    }
    (ranks.select(col("node"), col("rank_micro")), iter)
  }

  /** Global triangle count over an UNDIRECTED edge list (one row per
    * unordered pair, any orientation; duplicates/self-loops tolerated —
    * both are normalized away first).
    *
    * Uses the degree-ordered orientation (Chiba–Nishizeki / Suri &
    * Vassilvitskii's MR-Count): orient every edge from its lower-
    * (degree, id) endpoint to the higher, so each triangle is counted
    * exactly once and — the scale property — every 2-path pivot fans
    * out by ORIENTED out-degree, which is O(√E) even for power-law
    * hubs. The naive pivot on an unoriented hub of degree d builds d²
    * wedges; orientation caps it at ~E^1.5 total work, the difference
    * between a web-scale graph finishing and not.
    *
    * Shape: degree agg (one shuffle) → oriented edges staged once →
    * sorted out-neighbor adjacency (one groupBy) → per-edge native
    * `graft_overlap` intersection — the wedge table is never
    * materialized. No driver state, no cross product (PlanSpec-pinned).
    *
    * @return single row (n_triangles: long)
    */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    val g = orientAndStage(edges, aCol, bCol)
    // edge-iterator count: for each oriented edge (u,v), triangles
    // closing through it are |N⁺(u) ∩ N⁺(v)| — each triangle has
    // exactly one node with both out-edges, so each is counted once.
    // Sorted out-neighbor arrays + the native graft_overlap merge scan
    // replace the wedge self-join entirely: no W-row wedge table is
    // ever materialized or shuffled (W ≫ E on clustered graphs), just
    // E rows carrying two bounded arrays into a codegen'd intersection.
    edgesWithOutNbrs(g)
      .select(call_function("graft_overlap", col("nu"), col("nv"))
        .cast("long").as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
  }

  /** Per-node local clustering coefficient: cc(w) = 2·T(w)/(d(w)(d(w)−1))
    * with T(w) the triangles through w — THE per-node cohesion feature
    * (Watts & Strogatz '98): spam/bot accounts sit in sparse
    * neighborhoods (cc → 0), organic communities in dense ones. The
    * node-level refinement of [[triangleCount]]'s single scalar.
    *
    * Same degree-ordered orientation: each triangle {u,v,w} surfaces
    * exactly once at its pivot edge's intersection, then credits all
    * THREE corners — one explode to 3·T rows, one hash agg, one join
    * back onto the degree table. Work is output-bound (Σ triangles),
    * hubs stay cheap by orientation, and the coefficient floor-divides
    * in integer micros (2·T·10⁶ / d(d−1)) — oracle-exact.
    *
    * @return (node, degree, n_tri, cc_micro); degree-1 nodes get 0
    */
  def clusteringCoefficient(edges: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val g = orientAndStage(edges, aCol, bCol)
    val corners = edgesWithOutNbrs(g)
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
      .select(explode(array(col("src"), col("dst"), col("w")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
    g.deg
      .join(corners, col("v") === col("node"), "left")
      .select(col("v").as("node"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_tri"),
        when(col("d") >= 2,
          expr("(coalesce(t, 0L) * 2000000L) div (d * (d - 1))"))
          .otherwise(lit(0L)).as("cc_micro"))
  }

  /** Adamic–Adar link strength for every EDGE of an undirected graph:
    * AA(u,v) = Σ_{w ∈ N(u) ∩ N(v)} 1/ln(deg(w)) — the classic link-
    * prediction / edge-confidence feature (Adamic & Adar '03), scored
    * here for existing edges (how strongly is this co-occurrence
    * supported by shared context?).
    *
    * Same degree-ordered machinery as [[triangleCount]], but the
    * intersection is ENUMERATED (`array_intersect` + explode) rather
    * than counted: each triangle {u,v,w} surfaces exactly once at its
    * pivot, then contributes to all three of its edges with the
    * opposite vertex's 1/ln(deg) — snapped to integer micros before the
    * per-edge sum so the aggregate is order-independent and
    * oracle-exact. Work is Σ|triangles|·3 rows, output-bound; hubs
    * stay cheap by orientation.
    *
    * @return (node_a, node_b, common_neighbors, aa_micro) per edge that
    *         closes ≥1 triangle; node_a < node_b
    */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    val g = orientAndStage(edges, aCol, bCol)
    val tris = edgesWithOutNbrs(g)
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    // each triangle feeds its three edges; the edge key is canonical
    // (lo, hi) regardless of how orientation laid the triangle out
    val contrib = tris.select(explode(array(
        struct(least(col("src"), col("dst")).as("x"),
          greatest(col("src"), col("dst")).as("y"), col("w").as("o")),
        struct(least(col("src"), col("w")).as("x"),
          greatest(col("src"), col("w")).as("y"), col("dst").as("o")),
        struct(least(col("dst"), col("w")).as("x"),
          greatest(col("dst"), col("w")).as("y"), col("src").as("o"))))
        .as("c"))
      .select(col("c.x").as("node_a"), col("c.y").as("node_b"),
        col("c.o").as("o"))
    contrib
      .join(g.deg.select(col("v").as("o"), col("d")), Seq("o"))
      // a common neighbor has edges to both endpoints ⇒ deg ≥ 2 ⇒ ln > 0
      .select(col("node_a"), col("node_b"),
        expr("cast(round(1000000 / ln(d)) as bigint)").as("w_micro"))
      .groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("w_micro")).as("aa_micro"))
  }

  /** WEIGHTED Adamic–Adar for every edge of an undirected weighted
    * graph — the form link-prediction pipelines actually consume when
    * edges carry evidence counts (co-occurrence support, interaction
    * frequency):
    *
    *   AA_w(u,v) = Σ_{z ∈ N(u)∩N(v)} (w(u,z) + w(v,z)) / (2·ln(1+s(z)))
    *
    * (the Murata–Moriyasu '07 weighted extension: a shared neighbor
    * counts by how strongly BOTH endpoints connect to it, discounted by
    * its total strength s(z) = Σ incident weights — the weighted analog
    * of the 1/ln(deg) rarity discount).
    *
    * Same degree-ordered triangle enumeration as [[adamicAdar]]; the
    * weight lookups are two equi-joins of the output-bound contribution
    * rows against the canonical edge-weight table plus one against node
    * strengths. Integer convention: input weights are capped at 1e6
    * (so (w+w)·5e5 stays < 2⁵³ through the double rounding) and each
    * contribution snaps to integer micros before the per-edge sum —
    * order-independent, oracle-exact. Parallel duplicate edges resolve
    * by MAX weight; z always has s(z) ≥ 2 so ln(1+s) > 0.
    *
    * @return (node_a, node_b, common_neighbors, aa_micro) per edge that
    *         closes ≥1 triangle; node_a < node_b
    */
  def adamicAdarWeighted(edges: DataFrame, aCol: String, bCol: String,
                         wCol: String): DataFrame = {
    val w = edges.select(
        least(col(aCol), col(bCol)).cast("long").as("x"),
        greatest(col(aCol), col(bCol)).cast("long").as("y"),
        least(col(wCol).cast("long"), lit(1000000L)).as("w"))
      .filter(col("x") =!= col("y") && col("w") > 0)
      .groupBy("x", "y").agg(max(col("w")).as("w"))
      .stage()
    val strength = w.select(col("x").as("v"), col("w"))
      .union(w.select(col("y").as("v"), col("w")))
      .groupBy("v").agg(sum(col("w")).as("s"))
    val g = orientAndStage(w, "x", "y")
    val tris = edgesWithOutNbrs(g)
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("z"))
    val contrib = tris.select(explode(array(
        struct(least(col("src"), col("dst")).as("x"),
          greatest(col("src"), col("dst")).as("y"), col("z").as("o")),
        struct(least(col("src"), col("z")).as("x"),
          greatest(col("src"), col("z")).as("y"), col("dst").as("o")),
        struct(least(col("dst"), col("z")).as("x"),
          greatest(col("dst"), col("z")).as("y"), col("src").as("o"))))
        .as("c"))
      .select(col("c.x").as("node_a"), col("c.y").as("node_b"),
        col("c.o").as("o"))
    contrib
      .withColumn("a1", least(col("node_a"), col("o")))
      .withColumn("b1", greatest(col("node_a"), col("o")))
      .withColumn("a2", least(col("node_b"), col("o")))
      .withColumn("b2", greatest(col("node_b"), col("o")))
      .join(w.toDF("a1", "b1", "w_ao"), Seq("a1", "b1"))
      .join(w.toDF("a2", "b2", "w_bo"), Seq("a2", "b2"))
      .join(strength.toDF("o", "s"), Seq("o"))
      .select(col("node_a"), col("node_b"),
        expr("cast(round((w_ao + w_bo) * 500000 / ln(1 + s)) as bigint)")
          .as("wm"))
      .groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("wm")).as("aa_micro"))
  }

  /** Synchronous label propagation (Raghavan et al. '07), k fixed
    * rounds — community detection for duplicate-cluster neighborhoods
    * and source-graph segmentation, the cheap precursor to modularity
    * methods at corpus scale.
    *
    * Deterministic variant: labels start as the node id; each round
    * every node adopts the most frequent label among its NEIGHBORS
    * (count descending, label ascending on ties — no RNG, no async
    * order dependence), so results are reproducible across
    * partitionings and the DuckDB oracle can unroll the same rounds.
    *
    * Shape per round: one shuffle keying messages by dst, one count
    * agg, one per-node argmax (window over the node — bounded by the
    * node's distinct incident labels, ≤ degree). Rounds are
    * checkpointed like [[pageRank]]'s. Input is symmetrized here, so
    * every node that appears has ≥1 neighbor.
    *
    * @return (node: long, community: long)
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame =
    runLabelPropagation(edges, aCol, bCol, rounds,
      stopOnFixpoint = false)._1

  /** [[labelPropagation]] with convergence-based stopping: rounds run
    * until the (node, community) assignment repeats — the same
    * consecutive-round checksum stop as [[pageRankConverged]] — or
    * `maxRounds` caps it (synchronous LP can 2-cycle on bipartite
    * structures, where no fixpoint exists and the cap is the honest
    * stop). The deterministic argmax tie-break makes rounds pure
    * functions of the previous assignment, so a repeated assignment
    * proves every later round reproduces it and early-stop ≡ any
    * longer run (`GraphSpec` pins it). */
  def labelPropagationConverged(edges: DataFrame, aCol: String,
                                bCol: String, maxRounds: Int = 50)
  : (DataFrame, Int) =
    runLabelPropagation(edges, aCol, bCol, maxRounds,
      stopOnFixpoint = true)

  private def runLabelPropagation(edges: DataFrame, aCol: String,
                                  bCol: String, rounds: Int,
                                  stopOnFixpoint: Boolean)
  : (DataFrame, Int) = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e0 = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // like pageRank's eDeg: persist WITH a visible src partitioning
    // (stage()'s checkpoint would erase outputPartitioning), so each
    // round's edges⋈labels join exchanges only the node-sized labels
    // side — the E-row edge list is shuffled exactly once, not once
    // per round
    val e = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist()
    val seed = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("community"))
    // the seed checksum rides the seed's own staging job too
    var prevSum: java.math.BigDecimal = null
    var labels =
      if (stopOnFixpoint) {
        val (staged, row) = graft.Staging.stageObserved(seed,
          checksumMetric(Seq("node", "community")))
        prevSum = row("ck").asInstanceOf[java.math.BigDecimal]
        staged
      } else seed.stage()
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      // argmax by (count DESC, community ASC) as a hash-aggregate
      // max_by — (c, −community) is strictly ordered within a node
      // (community is unique per (node, community) group), so this is
      // exactly the old row_number()-over-window pick without the
      // window's per-node sort pass (two hash aggs per round instead
      // of agg + sort-window; GraphSpec's sync-replica test pins the
      // tie-break either way)
      // shuffle_hash: build the node-sized labels side, stream the
      // persisted E-row edge list unsorted (see runPageRank's rationale)
      val next = e.join(labels.hint("shuffle_hash"),
          e("src") === labels("node"))
        .select(e("dst").as("node"), col("community"))
        .groupBy("node", "community")
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(max_by(col("community"),
          struct(col("c"), (-col("community")).as("nc")))
          .as("community"))
      if (stopOnFixpoint) {
        val (staged, row) = graft.Staging.stageObserved(next,
          checksumMetric(Seq("node", "community")))
        labels = staged
        val s = row("ck").asInstanceOf[java.math.BigDecimal]
        converged = s.compareTo(prevSum) == 0
        prevSum = s
      } else labels = next.stage()
      round += 1
    }
    if (stopOnFixpoint) {
      if (converged)
        log.info(s"labelPropagationConverged: stable after $round " +
          s"rounds (cap $rounds)")
      else
        log.info(s"labelPropagationConverged: cap $rounds reached " +
          "WITHOUT a stable assignment (synchronous LP can 2-cycle)")
    }
    e.unpersist()
    (labels, round)
  }

  private case class Staged(deg: DataFrame, oriented: DataFrame)

  /** Normalize to distinct undirected lo<hi pairs, compute degrees, and
    * orient each edge from its lower-(degree, id) endpoint — shared by
    * the triangle-family operators. Both returned frames are staged:
    * deg is read twice by the orientation joins AND again by
    * [[adamicAdar]]'s contribution weighting — without its own
    * checkpoint that last use would re-run the 2E-row degree union. */
  private def orientAndStage(edges: DataFrame, aCol: String,
                             bCol: String): Staged = {
    val und = edges.select(
      least(col(aCol).cast("long"), col(bCol).cast("long")).as("lo"),
      greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .stage()
    val deg = und.select(col("lo").as("v"))
      .union(und.select(col("hi").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .stage()
    val withDeg = und
      .join(deg.withColumnRenamed("v", "lo")
        .withColumnRenamed("d", "d_lo"), "lo")
      .join(deg.withColumnRenamed("v", "hi")
        .withColumnRenamed("d", "d_hi"), "hi")
    val oriented = withDeg.select(
      when(col("d_lo") < col("d_hi") ||
        (col("d_lo") === col("d_hi") && col("lo") < col("hi")),
        struct(col("lo").as("src"), col("hi").as("dst")))
        .otherwise(struct(col("hi").as("src"), col("lo").as("dst")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .stage()
    Staged(deg, oriented)
  }

  /** Every oriented edge (u,v) with both endpoints' sorted out-neighbor
    * arrays attached (empty for heads with no out-edges). */
  private def edgesWithOutNbrs(g: Staged): DataFrame = {
    // staged: the adjacency is probed TWICE (as nu on src, as nv on dst)
    // — without the checkpoint the planner runs the E-row groupBy +
    // array sort once per probe, measured ~2× the whole intersection
    // pass at sf0.1
    val adj = g.oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .stage()
    val emptyNbrs = array().cast("array<long>")
    // shuffle_hash: the adjacency is V rows (E total array payload);
    // building it beats sorting the E-row oriented side per probe
    g.oriented
      .join(adj.select(col("src").as("u"), col("nbrs").as("nu"))
        .hint("shuffle_hash"), col("src") === col("u"))
      .join(adj.select(col("src").as("v"), col("nbrs").as("nv0"))
        .hint("shuffle_hash"), col("dst") === col("v"), "left")
      .select(col("src"), col("dst"), col("nu"),
        coalesce(col("nv0"), emptyNbrs).as("nv"))
  }

  /** HITS hubs & authorities (Kleinberg '99), k fixed iterations over a
    * DIRECTED edge list — the companion centrality to [[pageRank]] for
    * bipartite-flavored link structure (customers→suppliers,
    * pages→resources): a good HUB points at good authorities, a good
    * AUTHORITY is pointed at by good hubs.
    *
    * Integer fixed-point like [[pageRank]]: scores are "rank picos"
    * summing to [[Scale]] after each L1 normalization, so the update is
    * associative-exact and the DuckDB oracle unrolls the same
    * iterations in HUGEINT arithmetic. The normalizing division uses
    * decimal(38,0) internally (score·Scale can exceed 2⁶³ before the
    * divide) and floor-divides, losing ≤1 pico per node per round.
    *
    * Shape per iteration: hubs join edges on src → sum per dst (one
    * shuffle pair) for authorities; authorities join edges on dst → sum
    * per src for hubs. The edge list is persisted with a visible
    * partitioning per direction so iterations exchange only the
    * node-sized score frames; each round's normalizing total rides the
    * round's OWN staging action as an `observe` metric — zero extra
    * jobs. Rounds are checkpointed (the Pregel pattern; see
    * [[pageRank]]'s measured rationale).
    *
    * @return (node: long, hub_micro: long, auth_micro: long) — both
    *         scores scaled so each column sums to ≈[[Scale]]; nodes
    *         with no in-edges have auth 0, no out-edges hub 0
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .distinct()
    // two persisted copies, each pre-partitioned on ITS iteration join
    // key — the E-row list is shuffled once per direction total, not
    // once per round
    val eBySrc = e0.repartition(col("src")).persist()
    val eByDst = e0.repartition(col("dst")).persist()
    val nodes = eBySrc.select(col("src").as("node"))
      .union(eBySrc.select(col("dst").as("node")))
      .distinct()
      .stage()
    val n = nodes.count()
    if (n == 0L) {
      eBySrc.unpersist(); eByDst.unpersist()
      return nodes.select(col("node"), lit(0L).as("hub_micro"),
        lit(0L).as("auth_micro"))
    }
    var hubs = nodes.select(col("node"), lit(Scale / n).as("score"))
    var auths: DataFrame = null
    var iter = 0
    while (iter < iterations) {
      // authorities: sum of in-neighbor hub scores, then L1-normalize.
      // Sums run in decimal(38,0): a raw in-sum can exceed 2⁶³ on a
      // hub-heavy graph (indeg·Scale), exactly why DuckDB's SUM(BIGINT)
      // returns HUGEINT — the decimal keeps the two engines bit-equal
      // shuffle_hash both directions: build the node-sized score side,
      // stream the persisted E-row list unsorted (runPageRank rationale)
      val aRaw = eBySrc.join(hubs.hint("shuffle_hash"),
          eBySrc("src") === hubs("node"))
        .groupBy(eBySrc("dst").as("node"))
        .agg(sum(col("score").cast("decimal(38,0)")).as("raw"))
      val (aStaged, aRow) = graft.Staging.stageObserved(aRaw,
        coalesce(sum(col("raw").cast("decimal(38,0)")),
          lit(1).cast("decimal(38,0)")).as("total"))
      val aTotal = aRow("total").asInstanceOf[java.math.BigDecimal]
        .toBigInteger.toString
      auths = aStaged.select(col("node"),
        expr(s"cast((cast(raw as decimal(38,0)) * ${Scale}L)" +
          s" div ${aTotal} as long)").as("score"))
      // hubs: sum of out-neighbor authority scores, then L1-normalize
      val hRaw = eByDst.join(auths.hint("shuffle_hash"),
          eByDst("dst") === auths("node"))
        .groupBy(eByDst("src").as("node"))
        .agg(sum(col("score").cast("decimal(38,0)")).as("raw"))
      val (hStaged, hRow) = graft.Staging.stageObserved(hRaw,
        coalesce(sum(col("raw").cast("decimal(38,0)")),
          lit(1).cast("decimal(38,0)")).as("total"))
      val hTotal = hRow("total").asInstanceOf[java.math.BigDecimal]
        .toBigInteger.toString
      hubs = hStaged.select(col("node"),
        expr(s"cast((cast(raw as decimal(38,0)) * ${Scale}L)" +
          s" div ${hTotal} as long)").as("score"))
      iter += 1
    }
    val out = nodes
      .join(hubs.select(col("node"), col("score").as("hub_micro")),
        Seq("node"), "left")
      .join(auths.select(col("node"), col("score").as("auth_micro")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_micro"), lit(0L)).as("hub_micro"),
        coalesce(col("auth_micro"), lit(0L)).as("auth_micro"))
      .stage()
    eBySrc.unpersist(); eByDst.unpersist()
    out
  }

  /** Personalized PageRank (random walk with restart): teleport mass
    * flows ONLY to the seed set, so rank measures proximity to the
    * seeds rather than global importance — the standard "expand from a
    * trusted whitelist" scorer for crawl curation (TrustRank-style:
    * seed the known-good hosts, keep what ranks near them).
    *
    * Same integer fixed-point as [[pageRank]] — ranks start uniform at
    * Scale/N (documented contract, mirrored by the oracle), each round
    * is teleport_i + d·(in_sum + sink_share) div 100 where teleport_i =
    * ((100−d)·Scale/100)/|seeds| for seeds and 0 elsewhere; dangling
    * mass redistributes uniformly as in [[pageRank]]. Seeds appearing
    * nowhere in the edge list are ignored (they can hold no mass).
    *
    * Shape per iteration is identical to [[pageRank]]: the E-row edge
    * list shuffles once total, the node-sized rank frame per round,
    * sink totals ride each round's own staging action.
    *
    * @param seeds one column `node` (long-castable)
    * @return (node: long, rank_micro: long)
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           iterations: Int, dampingPct: Int = 85)
  : DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100]: $dampingPct")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .stage()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .stage()
    val n = nodes.count()
    if (n == 0L)
      return nodes.select(col("node"), lit(0L).as("rank_micro"))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out"))
    val eDeg = e.join(outDeg, "src").repartition(col("src")).persist()
    val flagged = nodes
      .join(outDeg.select(col("src").as("node"),
        lit(true).as("has_out")), Seq("node"), "left")
      .join(seeds.select(col("node").cast("long").as("node"))
        .distinct().select(col("node"), lit(true).as("is_seed")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("has_out"), lit(false)).as("has_out"),
        coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .stage()
    val nSinks = flagged.filter(!col("has_out")).count()
    val nSeeds = flagged.filter(col("is_seed")).count()
    require(nSeeds > 0, "no seed appears in the graph")
    val teleportSeed = ((100L - dampingPct) * Scale / 100L) / nSeeds
    var ranks = flagged.select(col("node"), col("has_out"),
      col("is_seed"), lit(Scale / n).as("rank_micro"))
    var sinkSum: Long = nSinks * (Scale / n)
    var iter = 0
    while (iter < iterations) {
      val sinkShare: Long = if (nSinks == 0L) 0L else sinkSum / n
      val contrib = eDeg.join(ranks.hint("shuffle_hash"),
          eDeg("src") === ranks("node"))
        .select(eDeg("dst").as("node"),
          expr("rank_micro div out").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("in_sum"))
      val next = flagged.join(contrib.hint("shuffle_hash"),
          Seq("node"), "left")
        .select(col("node"), col("has_out"), col("is_seed"),
          (when(col("is_seed"), lit(teleportSeed)).otherwise(lit(0L)) +
            expr(s"($dampingPct * (coalesce(in_sum, 0L) + $sinkShare))" +
              " div 100"))
            .as("rank_micro"))
      if (nSinks > 0L) {
        val (staged, row) = graft.Staging.stageObserved(next,
          coalesce(sum(when(!col("has_out"), col("rank_micro"))),
            lit(0L)).cast("long").as("sink_sum"))
        ranks = staged
        sinkSum = row("sink_sum").asInstanceOf[Long]
      } else ranks = next.stage()
      iter += 1
    }
    eDeg.unpersist()
    ranks.select(col("node"), col("rank_micro"))
  }

  /** Edge-WEIGHTED PageRank: rank flows along each out-edge in
    * proportion to its weight (contribution = rank·w div Σw(src))
    * instead of uniformly — the form host/domain graphs actually ship
    * (edge weight = link count / trade volume / co-occurrence count;
    * a host linking a partner 10 000× and a footer once should not
    * split rank 50/50). Parallel edges are pre-combined by summing
    * weights; non-positive weights are dropped (a zero-weight edge is
    * no edge, and it must not make its target "reachable").
    *
    * Same integer fixed-point + dangling-sink redistribution as
    * [[pageRank]]; the per-edge product runs in decimal(38,0) (rank
    * can reach Scale=1e12 and weights are unbounded longs — the raw
    * product can pass 2⁶³; the QUOTIENT is ≤ rank so the summed
    * in-flow stays long-ranged, mirroring DuckDB's HUGEINT sums).
    * Per-iteration shape is identical to [[pageRank]]: weighted edges
    * staged once pre-partitioned on src, one node-sized frame per
    * round, sink totals ride each round's staging action.
    *
    * @return (node: long, rank_micro: long)
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int,
                       dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100]: $dampingPct")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w") > 0)
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      .stage()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .stage()
    val n = nodes.count()
    if (n == 0L)
      return nodes.select(col("node"), lit(0L).as("rank_micro"))
    val wsum = e.groupBy("src").agg(sum(col("w")).as("wsum"))
    val eW = e.join(wsum, "src").repartition(col("src")).persist()
    val flagged = nodes
      .join(wsum.select(col("src").as("node"), lit(true).as("has_out")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("has_out"), lit(false)).as("has_out"))
      .stage()
    val nSinks = flagged.filter(!col("has_out")).count()
    val teleport = (100L - dampingPct) * Scale / 100L / n
    var ranks = flagged.select(col("node"), col("has_out"),
      lit(Scale / n).as("rank_micro"))
    var sinkSum: Long = nSinks * (Scale / n)
    var iter = 0
    while (iter < iterations) {
      val sinkShare: Long = if (nSinks == 0L) 0L else sinkSum / n
      val contrib = eW.join(ranks.hint("shuffle_hash"),
          eW("src") === ranks("node"))
        .select(eW("dst").as("node"),
          expr("cast((cast(rank_micro as decimal(38,0)) * w) div wsum" +
            " as long)").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("in_sum"))
      val next = flagged.join(contrib.hint("shuffle_hash"),
          Seq("node"), "left")
        .select(col("node"), col("has_out"),
          (lit(teleport) +
            expr(s"($dampingPct * (coalesce(in_sum, 0L) + $sinkShare))" +
              " div 100"))
            .as("rank_micro"))
      if (nSinks > 0L) {
        val (staged, row) = graft.Staging.stageObserved(next,
          coalesce(sum(when(!col("has_out"), col("rank_micro"))),
            lit(0L)).cast("long").as("sink_sum"))
        ranks = staged
        sinkSum = row("sink_sum").asInstanceOf[Long]
      } else ranks = next.stage()
      iter += 1
    }
    eW.unpersist()
    ranks.select(col("node"), col("rank_micro"))
  }

  /** Neighborhood Jaccard similarity for every EDGE of an undirected
    * graph: J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)| — the normalized
    * common-neighbors link-prediction feature ([[adamicAdar]]'s
    * scale-free sibling; Liben-Nowell & Kleinberg '03).
    *
    * |N(u)∪N(v)| = deg(u)+deg(v)−common by inclusion–exclusion (open
    * neighborhoods: u∈N(v) and v∈N(u), so the union includes both
    * endpoints; the denominator is ≥2 for any edge). Snapped to integer
    * micros by floor division so the result is oracle-exact.
    *
    * Same degree-ordered triangle enumeration as [[adamicAdar]]: each
    * triangle surfaces once at its pivot and feeds its three edges, so
    * work is output-bound (3·|triangles| rows) and hub wedges stay
    * subquadratic by orientation. Edges closing zero triangles are
    * omitted (their Jaccard is 0) — the output is bounded by the
    * triangle count, not E.
    *
    * @return (node_a, node_b, common_neighbors, jaccard_micro) per edge
    *         with ≥1 common neighbor; node_a < node_b
    */
  def neighborhoodJaccard(edges: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    val g = orientAndStage(edges, aCol, bCol)
    val tris = edgesWithOutNbrs(g)
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    val contrib = tris.select(explode(array(
        struct(least(col("src"), col("dst")).as("x"),
          greatest(col("src"), col("dst")).as("y")),
        struct(least(col("src"), col("w")).as("x"),
          greatest(col("src"), col("w")).as("y")),
        struct(least(col("dst"), col("w")).as("x"),
          greatest(col("dst"), col("w")).as("y"))))
        .as("c"))
      .select(col("c.x").as("node_a"), col("c.y").as("node_b"))
    contrib
      .groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("common_neighbors"))
      .join(g.deg.select(col("v").as("node_a"), col("d").as("da")),
        Seq("node_a"))
      .join(g.deg.select(col("v").as("node_b"), col("d").as("db")),
        Seq("node_b"))
      .select(col("node_a"), col("node_b"), col("common_neighbors"),
        expr("(common_neighbors * 1000000L)" +
          " div (da + db - common_neighbors)").as("jaccard_micro"))
  }

  /** k-core peeling, synchronous rounds: repeatedly remove every node
    * whose degree in the SURVIVING subgraph is < k — the standard
    * coreness filter for "keep only densely embedded sources" in
    * crawl-graph curation (Seidman '83; Batagelj–Zaveršnik).
    *
    * Runs exactly `rounds` synchronous peel rounds, stopping early iff
    * the surviving-node set repeats (peeling is a pure function of the
    * surviving subgraph, so a repeated set proves the fixpoint — same
    * consecutive-round checksum stop as [[pageRankConverged]], riding
    * each round's own staging action). With `rounds` large enough this
    * IS the k-core; with a cap it is the k-round peel, and the DuckDB
    * oracle unrolls the same rounds so either way is exact.
    *
    * Shape per round: degree agg over surviving edges (one shuffle),
    * semi-join edges against surviving nodes on both endpoints. Rounds
    * are checkpointed; the driver sees one checksum scalar per round.
    *
    * @return (node: long, degree: long) for nodes surviving all rounds,
    *         degree counted in the final surviving subgraph
    */
  def kCorePeel(edges: DataFrame, aCol: String, bCol: String, k: Int,
                rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var e = edges.select(
      least(col(aCol).cast("long"), col(bCol).cast("long")).as("lo"),
      greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .stage()
    var round = 0
    var converged = false
    var prevSum: java.math.BigDecimal = null
    var survivors: DataFrame = null
    while (round < rounds && !converged) {
      val deg = e.select(col("lo").as("node"))
        .union(e.select(col("hi").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val keep = deg.filter(col("degree") >= k)
        .select(col("node"))
      val (kept, row) = graft.Staging.stageObserved(keep,
        checksumMetric(Seq("node")))
      val s = row("ck").asInstanceOf[java.math.BigDecimal]
      converged = prevSum != null && s.compareTo(prevSum) == 0
      prevSum = s
      survivors = kept
      if (!converged) {
        // shuffle_hash: semi-join builds the node-sized survivor set,
        // streaming the E-row edge list unsorted (runPageRank rationale)
        e = e.join(kept.select(col("node").as("lo"))
              .hint("shuffle_hash"), Seq("lo"), "left_semi")
          .join(kept.select(col("node").as("hi"))
              .hint("shuffle_hash"), Seq("hi"), "left_semi")
          .stage()
      }
      round += 1
    }
    if (converged)
      log.info(s"kCorePeel: fixpoint after $round rounds (cap $rounds)")
    // final degrees over the surviving subgraph; survivors of the last
    // peel whose remaining edges were all removed (the OTHER endpoint
    // fell) have degree 0 — they'd fall in a later round; the round
    // cap is part of the contract
    val deg = e.select(col("lo").as("node"))
      .union(e.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    survivors.join(deg, Seq("node"), "left")
      .select(col("node"), coalesce(col("degree"), lit(0L)).as("degree"))
  }

  /** Time-respecting reachability over a TEMPORAL edge list: a node is
    * reached at time t if some path from a seed traverses edges with
    * NON-DECREASING timestamps arriving at t (you can't ride an edge
    * that fired before you got there) — the semantics of information /
    * contagion spread, supply-chain exposure, and account-takeover
    * blast radius, where static reachability ([[bfsHops]]) badly
    * overcounts (Holme & Saramäki '12, temporal networks).
    *
    * Earliest-arrival Bellman-Ford with a CHANGED-ONLY frontier: state
    * is one (node, arrival) row per reached node; each round relaxes
    * edges out of nodes whose arrival improved last round
    * (`edge.ts >= arrival(src)` gates the traversal, the arrival
    * candidate is the edge's own timestamp), min-merges into the
    * state, and stops when a round improves nobody (the observed
    * `n_changed` rides the round's staging action). Propagating only
    * the frontier is lossless: an unchanged node's contributions were
    * min-merged the round after it last changed, and min is
    * idempotent. `maxHops` caps path length.
    *
    * All-integer (epoch timestamps as longs): exact, associative,
    * oracle-unrollable.
    *
    * @param seeds   one column `node`; all seeds start at `startTs`
    * @param maxHops cap on temporal path length (rounds)
    * @return (node: long, arrival: long) — earliest arrival per
    *         reached node; seeds carry `startTs`
    */
  def temporalReachability(edges: DataFrame, srcCol: String,
                           dstCol: String, tsCol: String,
                           seeds: DataFrame, startTs: Long,
                           maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(tsCol).cast("long").as("ts"))
      .repartition(col("src")).stage() // stage(), not persist(): the checkpointed edge list carries accurate size stats, so the planner can broadcast it outright when it fits — measured faster than pinning the partitioning (0.75x with persist) because these loops' frontiers are tiny
    var state = seeds.select(col("node").cast("long").as("node"))
      .distinct()
      .select(col("node"), lit(startTs).as("arrival"))
      .stage()
    if (state.isEmpty) return state
    var frontier = state
    var hop = 0
    while (hop < maxHops) {
      // NO shuffle_hash hint here: the changed-only frontier is tiny in
      // the common case and the planner's broadcast of it beats a forced
      // shuffle (measured 0.86x with the hint); when the frontier
      // outgrows broadcast the persisted src-partitioning below still
      // caps the join at one frontier-sized exchange
      val cand = e.join(frontier.select(col("node").as("src"),
          col("arrival").as("src_arr")), Seq("src"))
        .filter(col("ts") >= col("src_arr"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("ts")).as("cand"))
      val merged = state.join(cand, Seq("node"), "full_outer")
        .select(col("node"),
          least(col("arrival"), col("cand")).as("arrival"),
          coalesce(col("cand") < col("arrival"),
            col("arrival").isNull).as("changed"))
      val (staged, row) = graft.Staging.stageObserved(merged,
        coalesce(sum(when(col("changed"), 1L)), lit(0L)).cast("long")
          .as("n_changed"))
      state = staged.select(col("node"), col("arrival"))
      if (row("n_changed").asInstanceOf[Long] == 0L) {
        log.info(s"temporalReachability: fixpoint after ${hop + 1} " +
          s"rounds (cap $maxHops)")
        return state
      }
      frontier = staged.filter(col("changed"))
        .select(col("node"), col("arrival"))
      hop += 1
    }
    state
  }

  /** Multi-source single-source-shortest-paths over non-negative
    * INTEGER edge weights — the weighted companion to [[bfsHops]]
    * ("cheapest total lead time / cost / latency from any seed"),
    * the primitive under supply-chain cost attribution and
    * weighted-proximity features.
    *
    * Distributed Bellman-Ford with a CHANGED-ONLY frontier, exactly
    * the [[temporalReachability]] shape: state is one (node, dist)
    * row per REACHED node; round k relaxes only edges out of nodes
    * whose distance improved in round k−1 (candidate = dist(src) + w,
    * min-merged into the state), and the loop stops the first round
    * that improves nobody — the observed `n_changed` metric rides the
    * round's own staging action, zero extra jobs. Frontier-only
    * relaxation is lossless (an unchanged node's out-contributions
    * were merged the round after it last changed; min is idempotent),
    * and each round's state equals full Bellman-Ford's after the same
    * number of rounds — which is what makes the unrolled SQL oracle
    * possible. All-integer distances: exact, associative.
    *
    * At 100 TB: edge list staged once, pre-partitioned on `src`, so
    * every round's join reuses the layout and only the node-sized
    * frontier shuffles; state never exceeds one row per reached node.
    *
    * @param seeds     one column `node`; all seeds start at dist 0
    * @param maxRounds cap on path length in edges (rounds)
    * @return (node: long, dist: long) — min cost from any seed
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    wCol: String, seeds: DataFrame,
                    maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0: $maxRounds")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(wCol).cast("long").as("w"))
      .repartition(col("src")).stage() // stage(), not persist(): the checkpointed edge list carries accurate size stats, so the planner can broadcast it outright when it fits — measured faster than pinning the partitioning (0.75x with persist) because these loops' frontiers are tiny
    var state = seeds.select(col("node").cast("long").as("node"))
      .distinct()
      .select(col("node"), lit(0L).as("dist"))
      .stage()
    if (state.isEmpty) return state
    var frontier = state
    var round = 0
    while (round < maxRounds) {
      // no hint: broadcast of the small changed-only frontier wins
      // (see temporalReachability)
      val cand = e.join(frontier.select(col("node").as("src"),
          col("dist").as("src_dist")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("src_dist") + col("w")).as("cand"))
      val merged = state.join(cand, Seq("node"), "full_outer")
        .select(col("node"),
          least(col("dist"), col("cand")).as("dist"),
          coalesce(col("cand") < col("dist"),
            col("dist").isNull).as("changed"))
      val (staged, row) = graft.Staging.stageObserved(merged,
        coalesce(sum(when(col("changed"), 1L)), lit(0L)).cast("long")
          .as("n_changed"))
      state = staged.select(col("node"), col("dist"))
      if (row("n_changed").asInstanceOf[Long] == 0L) {
        log.info(s"shortestPaths: fixpoint after ${round + 1} rounds " +
          s"(cap $maxRounds)")
        return state
      }
      frontier = staged.filter(col("changed"))
        .select(col("node"), col("dist"))
      round += 1
    }
    state
  }

  /** Per-landmark BFS distances: hop distance from EACH of k landmark
    * nodes separately — the state behind landmark-based centrality and
    * distance-oracle features (Potamias et al. '09): harmonic
    * centrality Σ 1/d, closeness approximations, and "distance to the
    * k trusted hubs" features all read off this frame.
    *
    * Same changed-frontier rounds as [[bfsHops]], with the landmark id
    * carried through the traversal: state is one (lm, node, hops) row
    * per (landmark, reached node) pair — k·reach rows, k bounded by the
    * landmark SAMPLE (you pick tens of landmarks, not |V|). Each round
    * joins the frontier against the once-staged src-partitioned edge
    * list and anti-joins the settled set on (lm, node); the observed
    * `n_new` stops the loop at fixpoint with zero extra jobs.
    *
    * @param seeds one column `node`: the landmarks (lm = the node)
    * @return (lm: long, node: long, hops: int)
    */
  def landmarkDistances(edges: DataFrame, srcCol: String, dstCol: String,
                        seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    var settled = seeds.select(col("node").cast("long").as("node"))
      .distinct()
      .select(col("node").as("lm"), col("node"), lit(0).as("hops"))
      .stage()
    if (settled.isEmpty) return settled
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .repartition(col("src")).persist() // NOT stage(): a checkpoint ERASES outputPartitioning and every round would re-exchange the E-row edge list (the eDeg idiom)
    // every frame returned below is staged, so the E-row edge list is
    // released on both exits
    try {
      var frontier = settled
      var hop = 0
      while (hop < maxHops) {
        val reached = e.join(frontier.select(col("lm"),
            col("node").as("src")).hint("shuffle_hash"), Seq("src"))
          .select(col("lm"), col("dst").as("node")).distinct()
          .join(settled.select("lm", "node"), Seq("lm", "node"),
            "left_anti")
          .select(col("lm"), col("node"), lit(hop + 1).as("hops"))
        val (stagedFrontier, row) = graft.Staging.stageObserved(reached,
          count(lit(1)).as("n_new"))
        frontier = stagedFrontier
        if (row("n_new").asInstanceOf[Long] == 0L) {
          log.info(s"landmarkDistances: frontier empty after ${hop + 1} " +
            s"rounds (cap $maxHops)")
          return settled
        }
        settled = settled.unionAll(frontier).stage()
        hop += 1
      }
      settled
    } finally e.unpersist()
  }

  /** Multi-source BFS hop distance: the minimum number of directed
    * edges from ANY seed to each reachable node — "how far is this
    * page from the trusted whitelist", the reachability companion to
    * [[personalizedPageRank]] (PPR weights proximity smoothly; BFS
    * answers the hard cutoff "within k hops"). Crawl-frontier scoping,
    * link-spam distance filters, and feature generation for ER all
    * consume exactly this.
    *
    * Frontier-propagating rounds: a node's distance FINALIZES the round
    * it is first reached (every in-path through later-reached nodes is
    * strictly longer), so round r joins only the r-1-distance frontier
    * against the edge list — contribution volume is out-edges-of-
    * frontier, not all edges, and the loop stops as soon as a round
    * reaches nobody new (the observed `n_new` metric rides the round's
    * own staging action — no extra job). All-integer distances: exact,
    * associative, oracle-unrollable.
    *
    * Shape per round: frontier ⋈ edges on `src` (edge list staged once,
    * pre-partitioned on src so every round reuses the layout), min-agg
    * on `dst`, anti-join against the settled set. At 100 TB the state
    * is one (node, dist) row per REACHED node — never |V|·rounds.
    *
    * Unreached nodes are absent from the output (distance ∞); cap
    * `maxHops` bounds the rounds on pathological diameters.
    *
    * @param seeds one column `node` (long-castable); seeds missing from
    *              the graph still emit their 0-distance row
    * @return (node: long, hops: int)
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .repartition(col("src")).stage() // stage(), not persist(): the checkpointed edge list carries accurate size stats, so the planner can broadcast it outright when it fits — measured faster than pinning the partitioning (0.75x with persist) because these loops' frontiers are tiny
    var settled = seeds.select(col("node").cast("long").as("node"))
      .distinct()
      .select(col("node"), lit(0).as("hops"))
      .stage()
    if (settled.isEmpty) return settled
    var frontier = settled
    var hop = 0
    while (hop < maxHops) {
      // no hint: broadcast of the small frontier wins (see
      // temporalReachability)
      val reached = e.join(frontier.select(col("node").as("src")),
          Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(settled.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(hop + 1).as("hops"))
      val (stagedFrontier, row) = graft.Staging.stageObserved(reached,
        count(lit(1)).as("n_new"))
      frontier = stagedFrontier
      if (row("n_new").asInstanceOf[Long] == 0L) {
        log.info(s"bfsHops: frontier empty after ${hop + 1} rounds " +
          s"(cap $maxHops)")
        return settled
      }
      settled = settled.unionAll(frontier).stage()
      hop += 1
    }
    settled
  }
}
