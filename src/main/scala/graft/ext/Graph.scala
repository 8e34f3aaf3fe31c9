package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.PairSurface

/**
 * Iterative graph analytics over plain edge tables — the ranking side of
 * a crawl/training-data pipeline (CommonCrawl-style host ranking feeds
 * quality weights the way [[Dedup.dupGroups]] feeds identity), expressed
 * as the standard Spark shape: one equi-join + one aggregate per
 * iteration, lineage truncated per round.
 */
object Graph {

  /**
   * PageRank by power iteration (Page et al. 1999) over a weighted edge
   * table `(src, dst, weight)`:
   *
   *   rank_{t+1}(v) = (1 − d)/N + d · Σ_{u→v} rank_t(u) · w(u,v)/W(u)
   *
   * Every node must appear as a `src` (symmetrize a one-directional
   * graph first — union both edge directions — which also removes
   * dangling nodes, whose leaked mass would otherwise need the
   * redistribute-to-all correction; use [[pageRankDangling]] for graphs
   * with genuine sinks). The precondition is ENFORCED: a dst-only node
   * would silently lose the mass flowing into it at the nodes-left-join,
   * so the one cheap validation count (node-sized anti-join) fails fast
   * instead. Fixed `iters` rounds: rank is a diagnostic weight here, not
   * a fixpoint contract — 5 rounds separate hubs from leaves at any
   * scale, and a fixed round count keeps the result a pure function of
   * the input (no convergence race).
   *
   * Determinism: transition probabilities are one exact IEEE division of
   * int64 weights per edge; per-iteration sums carry ~1e-16 of engine
   * sum-order noise, far inside the harness's 1e-6 snap even compounded
   * over the rounds.
   *
   * Scale shape: the probability table is edge-sized and reused every
   * round ([[pin]] it); each round is ONE src-keyed equi-join (rank is
   * node-sized, edges dominate) + ONE dst-keyed aggregate with map-side
   * partials — the canonical distributed PageRank; `localCheckpoint`
   * truncates the growing lineage each round (the [[Dedup.dupGroups]]
   * convention). The single driver action is the node COUNT (one long —
   * the k-means convergence-count precedent), which becomes the plan
   * constant (1−d)/N.
   */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(damping >= 0 && damping <= 1, "damping must be in [0, 1]")
    // pin the edge projection itself (r13): it feeds FOUR separate
    // actions (the out-weight aggregate, the probability pin, the node
    // pin, the dst-only validation count) and the caller's edge table is
    // typically itself a join (the co-ordered-parts self-join) — without
    // the pin each action re-executes that build (measured: 3 rebuilds
    // of the pair join per call at sf0.1)
    val e = pin(edges.select(col("src"), col("dst"), col("weight").cast("long").as("w")))
    val ow = e.groupBy("src").agg(sum("w").as("wout"))
    val p = pin(e.join(ow, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wout").cast("double")).as("prob")))
    val nodes = pin(e.select(col("src").as("node")).distinct())
    val nDstOnly = e.select(col("dst").as("node")).distinct()
      .join(nodes, Seq("node"), "left_anti").count()
    require(nDstOnly == 0,
      s"$nDstOnly dst-only node(s) would silently lose incoming rank mass" +
        " — symmetrize the edges or use pageRankDangling")
    val n = nodes.count()
    require(n > 0, "graph has no nodes")
    val base = lit((1.0 - damping) / n)
    var ranks = nodes.select(col("node"), (lit(1.0) / n).as("rank"))
    for (_ <- 0 until iters) {
      val contrib = p.join(ranks, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("prob") * col("rank")).as("c"))
      ranks = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (base + lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  /**
   * Per-node triangle participation counts over an undirected graph
   * (the node-iterator of Schank & Wagner 2005 — the standard
   * distributed triangle count): edges are canonicalized (self-loops
   * dropped, one row per undirected edge), oriented acyclically from
   * the (degree, id)-SMALLER endpoint to the larger, wedges enumerated
   * by a self-join on the wedge center, and each wedge closed against
   * the undirected edge set. Returns `(node, n_triangles)` for every
   * node in ≥1 triangle; each triangle contributes once to each of its
   * three corners.
   *
   * Why the degree orientation: wedges come only from a node's
   * out-neighbors, and orienting toward higher degree bounds every
   * out-degree by O(√m) — Σ outdeg² stays ~m^1.5 worst case (vs Σ deg²,
   * which a single hub makes quadratic). That is exactly the skew story
   * at 100 TB: a boilerplate-hub part co-ordered with everything stops
   * being a quadratic wedge bomb because its edges all point INTO it.
   *
   * Scale shape: two node-sized degree joins orient the edge table, ONE
   * edge-keyed self-equi-join on the wedge center makes wedges, ONE
   * equi-join on the (lo, hi) closing pair filters them to triangles —
   * all equi-joins on natural keys, no inequality join anywhere (the
   * `b < c` wedge dedup is a post-join filter on the center's
   * out-neighbor pair, riding the same-key join). Counts are exact
   * int64; every triangle is found exactly once (the DAG gives each
   * triangle a unique out-degree-2 corner).
   */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges)
    val tri = closedWedges(und)
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Canonical undirected edge set: self-loops dropped, one (u < v) row
    * per undirected edge — the shared head of every triangle kernel. */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  /** The (degree, id)-acyclic orientation of a canonical edge set —
    * every edge pointed from its (deg, id)-smaller endpoint `a` to the
    * larger `b`, bounding each out-degree by O(√m) (see
    * [[triangleCounts]]'s scaladoc for why that defuses hubs). */
  private def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"))
  }

  /** One (x, y, z) row per triangle of the canonical edge set — each
    * triangle found exactly once at its unique out-degree-2 corner. */
  private def closedWedges(und: DataFrame): DataFrame = {
    val oriented = orientByDegree(und)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.a").as("x"),
        col("e1.b").as("y"), col("e2.b").as("z"))
    // Closing edge in canonical (lo, hi) form — y < z by the wedge dedup.
    // The wedge side is the giant one (~m^1.5 rows vs m edges), so the
    // close must NEVER sort it: hint the edge side as the hash-build of
    // a shuffled-hash semi-join. Without the hint, AQE broadcasts at
    // small scale but silently falls back to sort-merge once the edge
    // set outgrows the broadcast threshold — measured 35x (not 10x) wall
    // on a 10x scale-up, all of it spill-sorting wedges.
    wedges.join(und.hint("shuffle_hash"),
      col("y") === col("u") && col("z") === col("v"), "left_semi")
  }

  /** Deterministic node color for the colorful sampler: one
    * multiplicative-congruential hash, pure int64 arithmetic —
    * `(id·2654435761 mod (2³¹−1)) mod n` — so DuckDB replays
    * the identical color from the identical id (the charFold convention:
    * no engine hash function crosses the oracle boundary). Safe from
    * int64 overflow while |id| < 3.4e9 — far above any key space here
    * (sfx10 tops out near 1e9). Uses `%`, whose sign semantics agree
    * across both engines for the non-negative ids these graphs carry. */
  private def colorOf(id: org.apache.spark.sql.Column, n: Int) =
    id * lit(ColorHashA) % lit(ColorHashP) % lit(n.toLong)

  private val ColorHashA = 2654435761L
  private val ColorHashP = 2147483647L

  /**
   * TRIANGLE KERNEL ROUTER — "do I run the exact wedge join or a
   * sampled estimate on this graph at 100 TB", answered from the
   * MEASURED wedge surface (the [[Dedup.autoRoute]] /
   * [[graft.core.CosineAnalysis.autoRouteAligned]] /
   * [[Embeddings.annRoute]] pattern applied to the fourth quadratic-prone
   * family). The exact kernel's cost IS its wedge join: Σ C(outdeg, 2)
   * rows through one shuffle — the measured single-box disk wall
   * (43.66 GB written at 100× on the organic co-order graph). One
   * edge-linear probe prices it: canonicalize, orient by degree, and
   * run the global [[graft.core.PairSurface.probe]] keyed by the
   * oriented source `a` — `wedges` is its `uncapped_pairs`
   * (Σ C(outdeg, 2), exact int64, the same orientation the exact kernel
   * runs) and `n_edges` its `postings` — against an edge-LINEAR budget
   * `budgetPerEdge · m`. Two rungs:
   *
   *  1. `wedges ≤ budget_wedges` → `exact` ([[triangleCounts]] /
   *     the total via [[closedWedges]]) — affordable surfaces should
   *     always take the exact kernel.
   *  2. else → `colorful` ([[colorfulTriangleTotal]]) with
   *     `n_colors = ⌈√(wedges/budget)⌉` — the smallest color count whose
   *     sampled wedge surface `wedges/n²` fits the budget, so the
   *     executed work is O(m·budgetPerEdge) BY CONSTRUCTION at any
   *     scale and any planted density.
   *
   * The decision is scale-stable for same-shaped graphs: organic
   * co-occurrence graphs hold a scale-constant wedges/edge ratio
   * (measured 26.3 / 33.4 / 34.4 across sf0.001→sf0.1 on the co-ordered
   * parts graph), so a budget above the ratio routes exact at every
   * scale, while a planted dense block (clique) blows the surface
   * superlinearly and flips to colorful — and a FIXED planted clique in
   * a growing organic graph eventually re-flips to exact as the
   * edge-linear budget overtakes its constant wedge mass (the flip IS
   * the router working: the clique stopped being the bottleneck).
   *
   * All columns are exact int64 (wedges via integral `div`), and
   * `n_colors` is one exactly-rounded IEEE divide/√/ceil chain, so the
   * DuckDB oracle replays the ladder verbatim.
   */
  def triangleRoute(edges: DataFrame, budgetPerEdge: Long): DataFrame = {
    require(budgetPerEdge > 0, "budgetPerEdge must be positive")
    val und = canonicalUndirected(edges)
    val nodes = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val surface = PairSurface.probe(orientByDegree(und), Nil, "a")
      .select(col("postings").as("n_edges"), col("uncapped_pairs").as("wedges"))
    nodes.crossJoin(surface)
      .withColumn("budget_wedges", col("n_edges") * lit(budgetPerEdge))
      .withColumn("n_colors",
        when(col("wedges") <= col("budget_wedges"), lit(1L))
          .otherwise(ceil(sqrt(col("wedges").cast("double") /
            col("budget_wedges").cast("double"))).cast("long")))
      .withColumn("kernel",
        when(col("wedges") <= col("budget_wedges"), lit("exact"))
          .otherwise(lit("colorful")))
      .select(col("n_nodes"), col("n_edges"), col("wedges"),
        col("budget_wedges"), col("n_colors"), col("kernel"))
  }

  /**
   * Colorful triangle-count estimate (Pagh & Tsourakakis 2012,
   * "Colorful triangle counting and a MapReduce implementation"): hash
   * every node to one of `nColors` colors, keep only MONOCHROMATIC
   * edges (both endpoints the same color), count the surviving graph's
   * triangles exactly with the same degree-oriented wedge join, and
   * scale by `nColors²` — a triangle survives iff its two non-anchor
   * nodes match the anchor's color, probability 1/n², so the estimator
   * is unbiased with concentration bounds from the paper. The sampled
   * wedge join's shuffle is the full kernel's divided by ~n² (each
   * surviving wedge needs BOTH edges monochromatic around its center) —
   * the direct mitigation for the measured 43.66 GB wedge-shuffle wall.
   *
   * `nColors = 1` keeps every edge and returns the exact count (the
   * identity the spec pins). The color hash is deterministic int64
   * arithmetic ([[colorOf]]), so the estimate is a pure function of the
   * graph — the DuckDB oracle reproduces it bit for bit.
   *
   * Returns ONE row: `(n_colors, n_edges_sampled, n_triangles_sampled,
   * triangles_est)` — all exact int64.
   */
  def colorfulTriangleTotal(edges: DataFrame, nColors: Int): DataFrame = {
    require(nColors >= 1, "nColors must be >= 1")
    val und = canonicalUndirected(edges)
    val sampled = und.where(
      colorOf(col("u"), nColors) === colorOf(col("v"), nColors))
    val m = sampled.agg(count(lit(1)).cast("long").as("n_edges_sampled"))
    val t = closedWedges(sampled)
      .agg(count(lit(1)).cast("long").as("n_triangles_sampled"))
    m.crossJoin(t)
      .select(lit(nColors.toLong).as("n_colors"),
        col("n_edges_sampled"), col("n_triangles_sampled"),
        (col("n_triangles_sampled") * lit(nColors.toLong * nColors))
          .as("triangles_est"))
  }

  /**
   * Executes [[triangleRoute]]'s decision on the GLOBAL triangle count:
   * `exact` → the closed-wedge total itself; `colorful` →
   * [[colorfulTriangleTotal]] at the routed color count. The 1-row
   * route collect is model-sized (the [[Dedup.autoDedupPairs]]
   * convention), so calling this executes the route probe eagerly.
   * Returns the decision row plus the executed `triangles` column
   * (exact count or unbiased estimate per `kernel`).
   */
  def autoTriangleTotal(edges: DataFrame, budgetPerEdge: Long): DataFrame = {
    val r = triangleRoute(edges, budgetPerEdge).head()
    val tri =
      if (r.getAs[String]("kernel") == "exact")
        closedWedges(canonicalUndirected(edges))
          .agg(count(lit(1)).cast("long").as("triangles"))
      else
        colorfulTriangleTotal(edges, r.getAs[Long]("n_colors").toInt)
          .select(col("triangles_est").as("triangles"))
    tri.select(
      lit(r.getAs[Long]("n_nodes")).as("n_nodes"),
      lit(r.getAs[Long]("n_edges")).as("n_edges"),
      lit(r.getAs[Long]("wedges")).as("wedges"),
      lit(r.getAs[Long]("budget_wedges")).as("budget_wedges"),
      lit(r.getAs[Long]("n_colors")).as("n_colors"),
      lit(r.getAs[String]("kernel")).as("kernel"),
      col("triangles"))
  }

  /**
   * One-row structural profile of an undirected graph: node/edge counts,
   * degree extremes and mean, and Newman's degree assortativity (Newman
   * 2002) — the signed correlation between the degrees at the two ends
   * of an edge. Positive r = hub-to-hub wiring, negative = hub-to-leaf;
   * the first number to read before trusting a clustering or dedup pass
   * over the graph (strongly disassortative co-occurrence graphs are the
   * hub-skew regime the capped/salted kernels exist for).
   *
   * The Pearson r over the symmetrized edge-endpoint multiset reduces to
   * exact int64 sums: with M edges, Sjk = Σ du·dv, Sj = Σ (du+dv),
   * Sj2 = Σ (du²+dv²), r = (4M·Sjk − Sj²) / (2M·Sj2 − Sj²). The SUMS
   * stay exact int64 (safe while Σ dmax² < 2^63); the final ratio is
   * computed in DOUBLE — 4M·Sjk alone can pass 2^63 on a skewed
   * million-edge graph — as a fixed left-to-right IEEE op sequence, so
   * any engine produces bit-identical values from the identical exact
   * sums. Degenerate regular graphs (zero variance) return r = 0 rather
   * than NaN.
   *
   * Scale shape: one distinct edge collapse, one node-sized degree
   * aggregate, two degree joins back onto edges, then everything folds
   * to a single row — no inequality join, no driver action beyond the
   * 1-row result.
   */
  def degreeStats(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      min("deg").as("min_degree"),
      max("deg").as("max_degree"),
      (sum("deg").cast("double") / count(lit(1))).as("mean_degree"))
    val edgeSums = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("du") * col("dv")).as("sjk"),
        sum(col("du") + col("dv")).as("sj"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("sj2"))
      .select(col("n_edges"), {
        val m = col("n_edges").cast("double")
        val sjk = col("sjk").cast("double")
        val sj = col("sj").cast("double")
        val sj2 = col("sj2").cast("double")
        val num = lit(4.0) * m * sjk - sj * sj
        val den = lit(2.0) * m * sj2 - sj * sj
        when(den === 0.0, 0.0).otherwise(num / den).as("assortativity")
      })
    nodeStats.crossJoin(broadcast(edgeSums))
      .select(col("n_nodes"), col("n_edges"), col("min_degree"),
        col("max_degree"), col("mean_degree"), col("assortativity"))
  }

  /**
   * Fixed-round k-core peeling (Seidman 1983 coreness, the Batagelj–
   * Zaveršnik cascade run a bounded number of rounds): start from all
   * nodes; each round recomputes every node's degree within the subgraph
   * induced by the current survivor set and drops nodes below `k`.
   * Returns `(node, deg)` for the nodes still alive after `rounds`
   * rounds, with their last-round induced degree. Run to the fixed
   * point this is exactly the k-core; a FIXED round count keeps the
   * result a pure function of the input (the [[pageRank]] convention)
   * and is what the dense-subgraph curation use wants anyway — each
   * round only ever removes, so round r is a sound over-approximation
   * of the core from above.
   *
   * Scale shape: per round, two node-sized semi-joins restrict the edge
   * table to surviving endpoints and ONE map-side-partial aggregate
   * recomputes degrees — no edge explosion, no inequality join;
   * `localCheckpoint` truncates lineage per round. Peeling is monotone,
   * so the survivor set (the join's build side) only shrinks round over
   * round.
   */
  def kCoreAlive(edges: DataFrame, k: Int, rounds: Int,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(rounds >= 1, "rounds must be at least 1")
    val und = pin(edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    var alive = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node"))).distinct()
    var deg: DataFrame = null
    for (_ <- 0 until rounds) {
      val induced = und
        .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
      deg = induced.select(col("u").as("node"))
        .unionByName(induced.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      alive = deg.where(col("deg") >= k).select("node")
    }
    deg.where(col("deg") >= k)
  }

  /** [[kCoreFixpoint]]'s readout: the surviving induced-degree table,
    * the measured per-round survivor counts, and whether the peel
    * reached its fixed point within the round budget. */
  final case class CoreResult(core: DataFrame, aliveCounts: Seq[Long],
      converged: Boolean)

  /**
   * [[kCoreAlive]] driven to its FIXED POINT — the true k-core (the
   * maximal induced subgraph of minimum degree ≥ k), stopping after the
   * first round whose survivor count stops shrinking instead of running
   * a blind fixed round count (VERDICT r8 ask #5; the
   * [[pageRankConverged]] measured-stopping-rule pattern). The survivor
   * set is monotone decreasing (a round's degrees are computed over the
   * previous survivors only), so an unchanged COUNT implies an unchanged
   * SET implies the fixed point — one cheap long per round decides, and
   * the per-round counts come back in [[CoreResult.aliveCounts]] (the
   * RankResult.l1Deltas convention) so the peel depth is measured, not
   * guessed.
   *
   * Convergence is also ORACLE-SAFE under a fixed unroll: once the set
   * stops changing, further peel rounds are identity — an oracle that
   * unrolls `maxRounds` rounds equals the early-stopped result whenever
   * the fixed point is reached within the budget, and equals the
   * maxRounds-th round otherwise (both sides agree either way).
   *
   * Scale shape: [[kCoreAlive]]'s exact per-round plan (two survivor
   * semi-joins + one degree aggregate, lineage truncated) plus one
   * node-set-sized COUNT per round — the price of a measured stop.
   */
  def kCoreFixpoint(edges: DataFrame, k: Int, maxRounds: Int = 30,
      pin: DataFrame => DataFrame = identity): CoreResult = {
    require(k >= 1, "k must be at least 1")
    require(maxRounds >= 1, "maxRounds must be at least 1")
    val und = pin(edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    var alive = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node"))).distinct()
    var prev = alive.count()
    var deg: DataFrame = null
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var converged = false
    var round = 0
    while (round < maxRounds && !converged) {
      val induced = und
        .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
      deg = induced.select(col("u").as("node"))
        .unionByName(induced.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      alive = deg.where(col("deg") >= k).select("node")
      val n = alive.count()
      counts += n
      converged = n == prev
      prev = n
      round += 1
    }
    CoreResult(deg.where(col("deg") >= k), counts.toSeq, converged)
  }

  /**
   * Fixed-round label-propagation communities (Raghavan et al. 2007) —
   * the cheap community detector: every node starts as its own label
   * and each round adopts the PLURALITY label among its neighbors'
   * current labels (ties → smallest label, making each round a pure
   * function of the last — the determinism the async original lacks).
   * A self-loop keeps the node's own label in its vote, damping the
   * label oscillation bipartite structures otherwise exhibit. Distinct
   * from connected components ([[graft.ext.Dedup.dupGroupsStars]]):
   * LPA splits a connected graph along its dense regions, which is the
   * curation question ("which parts cluster") rather than the dedup
   * question ("which parts touch").
   *
   * Scale shape: per round ONE edge-sized equi-join on the neighbor
   * endpoint, one (node, label) count aggregate (map-side partial), and
   * one per-node argmax window whose partitions are degree-bounded —
   * never node-count-bounded. Fixed rounds keep it lazy and
   * oracle-checkable; `pin` the edge table (the [[kCoreAlive]]
   * convention) since the unrolled plan references it every round.
   */
  def labelPropagation(edges: DataFrame, rounds: Int,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    require(rounds >= 1, "rounds must be at least 1")
    // canon NOT pinned here (r13, measured both ways): pinning it saved
    // 2.4 s at sf0.1 (the und pin re-derives the caller's edge build 3×)
    // but regressed the kernel 4.3× at the 10× replica (16.5 → 71.1 s) —
    // the un-checkpointed lazy round chain below plans against canon's
    // statistics, and a stats-less LogicalRDD under 8 unrolled rounds
    // degrades with scale. [[labelPropagationConverged]] DOES pin canon:
    // its per-round checkpoint makes every round's plan shallow, and its
    // sfx1 draw was flat (33.4 → 33.0 s) with the pin in place.
    val canon = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val nodes = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node"))).distinct()
    val und = pin(canon
      .union(canon.select(col("v").as("u"), col("u").as("v")))
      .union(nodes.select(col("node").as("u"), col("node").as("v"))))
    var lbl = nodes.select(col("node"), col("node").as("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("c").desc, col("nl").asc)
    for (_ <- 1 to rounds) {
      lbl = und
        .join(lbl.select(col("node").as("v"), col("label").as("nl")), "v")
        .groupBy(col("u"), col("nl")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("u").as("node"), col("nl").as("label"))
    }
    lbl
  }

  /** [[labelPropagationConverged]]'s readout: the final label table,
    * the measured per-round label-change counts, and whether a round
    * with zero changes was reached within the budget. */
  final case class LpaResult(labels: DataFrame, changesPerRound: Seq[Long],
      converged: Boolean)

  /**
   * [[labelPropagation]] driven to convergence: stops after the first
   * round in which NO node changed label (or at `maxRounds`), returning
   * the measured per-round change counts (VERDICT r8 ask #5 — the
   * [[pageRankConverged]] / [[kCoreFixpoint]] stopping-rule pattern).
   * Each synchronous round is a pure function of the previous label
   * table, so a zero-change round is a genuine fixed point: every
   * subsequent round reproduces it exactly. That also makes the early
   * stop ORACLE-SAFE under a fixed unroll — rounds past convergence are
   * identity, so an oracle unrolling `maxRounds` rounds matches whether
   * or not the graph converged inside the budget. (Synchronous LPA can
   * 2-cycle on bipartite-ish structure even with the self-loop vote —
   * then `converged` comes back false and the result is the
   * maxRounds-th table, again matching the unrolled oracle.)
   *
   * Scale shape: [[labelPropagation]]'s per-round plan (one edge-sized
   * equi-join, one (node, label) count aggregate, one degree-bounded
   * argmax window) plus one node-sized change-count join per round —
   * lineage truncated per round, one long to the driver.
   */
  def labelPropagationConverged(edges: DataFrame, maxRounds: Int = 20,
      pin: DataFrame => DataFrame = identity): LpaResult = {
    require(maxRounds >= 1, "maxRounds must be at least 1")
    // canon pinned (r13) — see [[labelPropagation]]
    val canon = pin(edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    val nodes = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node"))).distinct()
    val und = pin(canon
      .union(canon.select(col("v").as("u"), col("u").as("v")))
      .union(nodes.select(col("node").as("u"), col("node").as("v"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("c").desc, col("nl").asc)
    var lbl = nodes.select(col("node"), col("node").as("label")).localCheckpoint()
    val changes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var converged = false
    var round = 0
    while (round < maxRounds && !converged) {
      val next = und
        .join(lbl.select(col("node").as("v"), col("label").as("nl")), "v")
        .groupBy(col("u"), col("nl")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("u").as("node"), col("nl").as("label"))
        .localCheckpoint()
      val moved = next
        .join(lbl.withColumnRenamed("label", "prev"), "node")
        .where(col("label") =!= col("prev")).count()
      changes += moved
      converged = moved == 0L
      lbl = next
      round += 1
    }
    LpaResult(lbl, changes.toSeq, converged)
  }

  /**
   * Resource-allocation link prediction (Zhou, Lü & Zhang 2009): score
   * every NON-edge pair (u, v) by RA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w),
   * alongside the raw common-neighbor count. RA is the strongest of the
   * classic local similarity indices on most benchmark graphs (it
   * down-weights promiscuous hubs harder than Adamic–Adar's 1/log deg)
   * and — unlike AA — needs only IEEE division, which is correctly
   * rounded in every engine, so the score replays exactly from the
   * degree table with no transcendental-parity caveat.
   *
   * Through-nodes with deg > `maxDeg` are excluded from generating
   * candidate pairs — the [[graft.ext.Dedup]] df-cap analogue, and here
   * it is PRINCIPLED rather than lossy-but-documented: a hub's RA
   * contribution is 1/deg ≤ 1/maxDeg per pair, so the dropped signal is
   * bounded and the dropped pairs are exactly the ones RA itself calls
   * uninformative. Pairs below `minCommon` shared neighbors are cut
   * (noise floor + output bound). Output: (u, v, cn, ra) for predicted
   * links only (known edges anti-joined away), u < v.
   *
   * Scale shape: candidate generation is the wedge join through the
   * shared neighbor — Σ_w C(deg w, 2) pairs, bounded by the maxDeg cap
   * at C(maxDeg, 2)·|nodes| worst case; then ONE (u,v)-keyed aggregate
   * with map-side partials, a result-sized anti-join against the edge
   * set, and nothing driver-side. The degree join rides the same
   * adjacency shuffle the wedge join needs.
   */
  def linkPredict(edges: DataFrame, minCommon: Int, maxDeg: Int): DataFrame = {
    require(minCommon >= 1, "minCommon must be at least 1")
    require(maxDeg >= 2, "a through-node needs degree >= 2 to form a wedge")
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val adj = und.select(col("u").as("w"), col("v").as("n"))
      .union(und.select(col("v").as("w"), col("u").as("n")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("deg"))
    val capped = adj.join(deg.where(col("deg") <= maxDeg), "w")
    val wedges = capped.as("a")
      .join(capped.as("b"),
        col("a.w") === col("b.w") && col("a.n") < col("b.n"))
      .select(col("a.n").as("u"), col("b.n").as("v"),
        col("a.deg").as("dw"))
    wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("cn"),
        sum(lit(1.0) / col("dw").cast("double")).as("ra"))
      .where(col("cn") >= minCommon)
      .join(und, Seq("u", "v"), "left_anti")
  }

  /**
   * HITS hubs and authorities (Kleinberg 1999) by fixed-round power
   * iteration over a DIRECTED edge table `(src, dst)` — the
   * complementary ranking to [[pageRank]]: a good hub points AT good
   * authorities, a good authority is pointed at BY good hubs. Each round:
   *
   *   auth(v) = Σ_{u→v} hub(u),  then L1-normalized;
   *   hub(u)  = Σ_{u→v} auth(v), then L1-normalized
   *
   * (the classic ‖·‖₂ normalization only rescales the fixed point — L1
   * keeps each table summing to exactly 1, the [[pageRankDangling]]
   * mass-conservation contract, and its normalizer is a plain SUM).
   * Returns `(node, hub, auth)` for every node; pure sources carry
   * auth = 0 and pure sinks hub = 0 rather than dropping out. Duplicate
   * edges are collapsed first (classic HITS is over the 0/1 adjacency).
   *
   * Determinism: per-round sums carry ~1e-15 of engine sum-order noise
   * and the normalizing division is correctly rounded — compounded over
   * the fixed rounds this stays far inside the harness's 1e-6 snap (the
   * [[pageRank]] argument).
   *
   * Scale shape: per round TWO edge-sized equi-joins (one per direction)
   * each feeding a map-side-partial aggregate, plus two 1-row
   * normalization aggregates consumed via cross-join — sanctioned scalar
   * broadcasts, never driver actions; `localCheckpoint` truncates
   * lineage per half-round. The single driver action is the node COUNT
   * (the [[pageRank]] convention) seeding hub₀ = 1/N.
   */
  def hits(edges: DataFrame, iters: Int,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    require(iters >= 1, "iters must be at least 1")
    val e = pin(edges.select(col("src"), col("dst")).distinct())
    val nodes = pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    require(n > 0, "graph has no nodes")
    var hub = nodes.select(col("node"), (lit(1.0) / n).as("hub"))
    var auth = nodes.select(col("node"), lit(0.0).as("auth"))
    for (_ <- 1 to iters) {
      val araw = e.join(hub, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("a"))
      val asum = araw.agg(coalesce(sum(col("a")), lit(0.0)).as("s"))
      auth = nodes.join(araw, col("node") === col("dst"), "left")
        .crossJoin(broadcast(asum))
        .select(col("node"),
          when(col("s") > 0, coalesce(col("a"), lit(0.0)) / col("s"))
            .otherwise(lit(0.0)).as("auth"))
        .localCheckpoint()
      val hraw = e.join(auth, col("dst") === col("node"))
        .groupBy(col("src")).agg(sum(col("auth")).as("h"))
      val hsum = hraw.agg(coalesce(sum(col("h")), lit(0.0)).as("s"))
      hub = nodes.join(hraw, col("node") === col("src"), "left")
        .crossJoin(broadcast(hsum))
        .select(col("node"),
          when(col("s") > 0, coalesce(col("h"), lit(0.0)) / col("s"))
            .otherwise(lit(0.0)).as("hub"))
        .localCheckpoint()
    }
    hub.join(auth, "node")
  }

  /** Final ranks plus the measured per-round L1 movement — the readout
    * that turns "how many rounds is enough" into data. */
  final case class RankResult(ranks: DataFrame, l1Deltas: Seq[Double])

  /**
   * PageRank with the dangling-mass correction (the full Page et al.
   * model): nodes are `src ∪ dst`, and each round the rank mass sitting
   * on sink nodes (no out-edges) is redistributed uniformly —
   *
   *   rank_{t+1}(v) = (1 − d)/N + d · (Σ_{u→v} rank_t(u)·p(u,v) + D_t/N)
   *
   * where D_t = Σ_{dangling u} rank_t(u). Σ rank is exactly 1 every round
   * (mass conservation — spec-pinned), which plain [[pageRank]] only gets
   * by forbidding sinks.
   *
   * Scale shape: identical to [[pageRank]] (one edge-sized equi-join +
   * one map-side-partial aggregate per round) plus, per round, ONE 1-row
   * dangling-mass aggregate consumed via cross-join — a sanctioned
   * scalar broadcast, never a driver action. The dangling node set is a
   * node-sized anti-join computed once and reused.
   */
  def pageRankDangling(edges: DataFrame, iters: Int, damping: Double = 0.85,
      pin: DataFrame => DataFrame = identity): DataFrame =
    runDangling(edges, iters, damping, pin, tol = None).ranks

  /**
   * [[pageRankDangling]] driven to convergence: stops after the first
   * round whose L1 movement `Σ|rank_t − rank_{t−1}|` drops below `tol`
   * (or at `maxIters`), returning the measured per-round deltas. Each
   * round adds one node-sized join (vs the previous ranks) and one 1-row
   * driver action for the delta — the price of a measured stopping rule;
   * use [[pageRankDangling]] when a fixed round count is the contract.
   */
  def pageRankConverged(edges: DataFrame, tol: Double, maxIters: Int = 20,
      damping: Double = 0.85,
      pin: DataFrame => DataFrame = identity): RankResult = {
    require(tol > 0, "tol must be positive")
    runDangling(edges, maxIters, damping, pin, tol = Some(tol))
  }

  /**
   * Personalized PageRank (the topic-sensitive variant, Haveliwala 2002):
   * the same dangling-corrected power iteration as [[pageRankDangling]],
   * but BOTH the teleport and the dangling-mass redistribution return to
   * a uniform distribution over a SEED set instead of all nodes —
   *
   *   rank_{t+1}(v) = (1 − d)·e(v) + d·(Σ_{u→v} rank_t(u)·p(u,v) + D_t·e(v))
   *
   * with e = 1/|S| on the seeds, 0 elsewhere. This is the "relevance
   * from these known-good pages" ranking a crawl-quality pipeline seeds
   * with a trusted domain list — mass can only ever re-enter through
   * the seeds, so rank decays with graph distance FROM them (non-seed
   * sources with no inbound path score exactly (1−d)·0 = 0). Σrank = 1
   * every round, same conservation contract as the dangling variant.
   *
   * Seeds outside the graph are ignored (the intersection seeds∩nodes
   * must be non-empty — validated by the same count that sizes e).
   *
   * Scale shape: [[pageRankDangling]]'s exact per-round plan (one
   * edge-sized equi-join + one map-side-partial aggregate + one 1-row
   * dangling scalar) over a node-sized teleport table computed ONCE
   * (one semi-join-shaped left join); the one extra driver action is
   * the model-sized seed COUNT.
   */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      damping: Double = 0.85,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(damping >= 0 && damping <= 1, "damping must be in [0, 1]")
    // pinned for the same reason as [[pageRank]]'s edge projection: five
    // downstream actions would otherwise each rebuild the caller's edges
    val e = pin(edges.select(col("src"), col("dst"), col("weight").cast("long").as("w")))
    val ow = e.groupBy("src").agg(sum("w").as("wout"))
    val p = pin(e.join(ow, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wout").cast("double")).as("prob")))
    val nodes = pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val dangling = pin(nodes.join(e.select(col("src").as("node")).distinct(),
      Seq("node"), "left_anti"))
    val sd = seeds.select(col("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
    val m = sd.count()
    require(m > 0, "no seed is a node of the graph")
    val tele = pin(nodes
      .join(sd.withColumn("in_s", lit(1L)), Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("in_s"), lit(0L)).cast("double") / m).as("e")))
    var ranks = tele.select(col("node"), col("e").as("rank"))
    for (_ <- 0 until iters) {
      val dm = ranks.join(dangling, Seq("node"), "left_semi")
        .agg(coalesce(sum("rank"), lit(0.0)).as("dmass"))
      val contrib = p.join(ranks, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("prob") * col("rank")).as("c"))
      ranks = tele.join(contrib, col("node") === col("dst"), "left")
        .crossJoin(dm)
        .select(col("node"),
          ((lit(1.0) - lit(damping)) * col("e") + lit(damping) *
            (coalesce(col("c"), lit(0.0)) + col("dmass") * col("e"))).as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  private def runDangling(edges: DataFrame, iters: Int, damping: Double,
      pin: DataFrame => DataFrame, tol: Option[Double]): RankResult = {
    require(iters >= 0, "iters must be non-negative")
    require(damping >= 0 && damping <= 1, "damping must be in [0, 1]")
    // pinned for the same reason as [[pageRank]]'s edge projection: five
    // downstream actions would otherwise each rebuild the caller's edges
    val e = pin(edges.select(col("src"), col("dst"), col("weight").cast("long").as("w")))
    val ow = e.groupBy("src").agg(sum("w").as("wout"))
    val p = pin(e.join(ow, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wout").cast("double")).as("prob")))
    val nodes = pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val dangling = pin(nodes.join(e.select(col("src").as("node")).distinct(),
      Seq("node"), "left_anti"))
    val n = nodes.count()
    require(n > 0, "graph has no nodes")
    val base = lit((1.0 - damping) / n)
    var ranks = nodes.select(col("node"), (lit(1.0) / n).as("rank"))
    val deltas = scala.collection.mutable.ArrayBuffer.empty[Double]
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      // D_t: 1-row aggregate over the sink nodes' current rank,
      // cross-joined into every row (scalar broadcast, stays in-plan)
      val dm = ranks.join(dangling, Seq("node"), "left_semi")
        .agg(coalesce(sum("rank"), lit(0.0)).as("dmass"))
      val contrib = p.join(ranks, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("prob") * col("rank")).as("c"))
      val next = nodes.join(contrib, col("node") === col("dst"), "left")
        .crossJoin(dm)
        .select(col("node"),
          (base + lit(damping) *
            (coalesce(col("c"), lit(0.0)) + col("dmass") / n)).as("rank"))
        .localCheckpoint()
      tol.foreach { t =>
        val moved = next.join(ranks.withColumnRenamed("rank", "prev"), "node")
          .agg(sum(abs(col("rank") - col("prev"))).as("l1"))
          .head().getDouble(0)
        deltas += moved
        converged = moved < t
      }
      ranks = next
      round += 1
    }
    RankResult(ranks, deltas.toSeq)
  }
}
