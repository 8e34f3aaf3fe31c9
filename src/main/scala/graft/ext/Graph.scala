package graft.ext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PairSurface

/**
 * Iterative graph analytics over plain edge tables — the ranking side of
 * a crawl/training-data pipeline (CommonCrawl-style host ranking feeds
 * quality weights the way [[Dedup.dupGroups]] feeds identity), expressed
 * as the standard Spark shape: one equi-join + one aggregate per
 * iteration, lineage truncated per round.
 *
 * Every iterative function runs on ONE round loop ([[iterate]], the
 * Pregel superstep of Malewicz et al. 2010): the algorithm supplies a
 * step (join the edges to the node state, aggregate by destination,
 * update the state) and, where it stops on a measured rule, a per-round
 * statistic. The loop pins each round's state with one eager
 * `localCheckpoint` — lineage stays one round deep, and the statistic
 * is read by `Dataset.observe` inside that same action, so a round
 * costs one Spark action whether or not it is measured. Setup tables
 * (the edges every round reads, PageRank's node table) are pinned
 * inside the functions the same way; callers pass no pin.
 *
 * Null policy: an edge with a null endpoint is dropped, by every
 * function. The undirected family drops it in [[canonicalUndirected]]
 * (`least`/`greatest` skip nulls, so the edge becomes a self-loop, and
 * self-loops are dropped); the directed family ([[pageRank]] and its
 * variants, [[hits]]) filters it in [[directed]].
 */
object Graph {

  /** One round's observed statistic, by metric name. */
  private type Stat = Map[String, Any]

  /** A finished [[iterate]] run: the last state, one [[Stat]] per round
    * run (empty when no statistic was asked for), and whether the stop
    * rule ended the run before the round budget did. */
  private final case class Run(state: DataFrame, stats: Seq[Stat], stopped: Boolean)

  /** Pins `df` with one eager `localCheckpoint`, reading `metrics` over
    * its rows through a fresh [[Observation]] in that same action. */
  private def pinObserved(df: DataFrame, metrics: Seq[Column]): (DataFrame, Stat) = {
    val obs = Observation()
    val pinned = df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint()
    (pinned, obs.get)
  }

  /**
   * The round loop: up to `maxRounds` times, `step` maps the state to
   * the next one, which is pinned by one eager `localCheckpoint`. With a
   * `stat`, the same action observes it over the new state's rows, and
   * `stop(current, previous)` may end the run early.
   */
  private def iterate(init: DataFrame, maxRounds: Int, stat: Seq[Column] = Nil,
      stop: (Stat, Option[Stat]) => Boolean = (_, _) => false)
      (step: DataFrame => DataFrame): Run = {
    var state = init
    val stats = ArrayBuffer.empty[Stat]
    var stopped = false
    var round = 0
    while (round < maxRounds && !stopped) {
      if (stat.isEmpty) state = step(state).localCheckpoint()
      else {
        val (next, s) = pinObserved(step(state), stat)
        stopped = stop(s, stats.lastOption)
        stats += s
        state = next
      }
      round += 1
    }
    Run(state, stats.toSeq, stopped)
  }

  /** The directed family's edge rows: null endpoints dropped. */
  private def directed(edges: DataFrame): DataFrame =
    edges.where(col("src").isNotNull && col("dst").isNotNull)

  /** [[runRank]]'s pinned graph: the edge table (src, dst, w), the node
    * table (node, wout, dangling, in_s), and the node, sink and
    * in-graph seed counts read while pinning it. */
  private final case class RankGraph(edges: DataFrame, nodes: DataFrame,
      n: Long, nDangling: Long, nSeeds: Long)

  /**
   * The one PageRank setup, two Spark actions: the edge projection is
   * pinned first, because the node aggregate and every round read it (a
   * caller's edge table is typically itself a join + aggregate); then one
   * aggregate over it pins the node table — nodes are `src ∪ dst`, `wout`
   * is a node's total out-weight, and a node is dangling iff it is never
   * a `src` — observing the counts in the same action.
   */
  private def rankGraph(edges: DataFrame, seeds: Option[DataFrame]): RankGraph = {
    val e = directed(edges)
      .select(col("src"), col("dst"), col("weight").cast("long").as("w"))
      .localCheckpoint()
    val ends = e.select(col("src").as("node"), col("w"), lit(false).as("dangling"))
      .union(e.select(col("dst").as("node"), lit(null).cast("long").as("w"),
        lit(true).as("dangling")))
      .groupBy("node").agg(sum("w").as("wout"), min("dangling").as("dangling"))
    val (nodes, c) = pinObserved(seeds match {
        case None => ends.withColumn("in_s", lit(null).cast("long"))
        case Some(sd) => ends.join(sd.select(col("node")).distinct()
          .withColumn("in_s", lit(1L)), Seq("node"), "left")
      },
      Seq(count(lit(1)).as("n_nodes"), count(when(col("dangling"), 1)).as("n_dangling"),
        count(col("in_s")).as("n_seeds")))
    RankGraph(e, nodes, c("n_nodes").asInstanceOf[Long],
      c("n_dangling").asInstanceOf[Long], c("n_seeds").asInstanceOf[Long])
  }

  /**
   * The power iteration behind [[pageRank]], [[pageRankDangling]],
   * [[pageRankConverged]] and [[personalizedPageRank]]:
   *
   *   rank_{t+1}(v) = tele(v) + d · (Σ_{u→v} rank_t(u)·p(u,v) + D_t·share(v))
   *
   * with D_t the rank mass on sinks; tele = (1 − d)/N and share = 1/N for
   * the uniform walk, tele = (1 − d)·e(v) and share = e(v) for the
   * personalized one. Without sinks the D_t term is left out of the plan
   * (the sink count is already read), so [[pageRank]]'s round has no
   * cross join. The state carries the previous rank, so `tol` reads the
   * L1 movement in the round's own action.
   */
  private def runRank(edges: DataFrame, seeds: Option[DataFrame], iters: Int,
      damping: Double, tol: Option[Double], sinksAllowed: Boolean): RankResult = {
    require(damping >= 0 && damping <= 1, "damping must be in [0, 1]")
    val g = rankGraph(edges, seeds)
    require(sinksAllowed || g.nDangling == 0,
      s"${g.nDangling} dst-only node(s) would silently lose incoming rank mass" +
        " — symmetrize the edges or use pageRankDangling")
    require(g.n > 0, "graph has no nodes")
    val (init, carried, tele, share) = seeds match {
      case None =>
        (g.nodes.select(col("node"), col("wout"), col("dangling"),
          (lit(1.0) / g.n).as("rank")),
          Seq(col("node"), col("wout"), col("dangling")),
          lit((1.0 - damping) / g.n), (dm: Column) => dm / g.n)
      case Some(_) =>
        require(g.nSeeds > 0, "seeds: no seed is a node of the graph")
        val e = (coalesce(col("in_s"), lit(0L)).cast("double") / g.nSeeds).as("e")
        (g.nodes.select(col("node"), col("wout"), col("dangling"), e, e.as("rank")),
          Seq(col("node"), col("wout"), col("dangling"), col("e")),
          (lit(1.0) - lit(damping)) * col("e"), (dm: Column) => dm * col("e"))
    }
    def step(ranks: DataFrame): DataFrame = {
      val prob = col("w").cast("double") / col("wout").cast("double")
      val contrib = g.edges.join(ranks, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(prob * col("rank")).as("c"))
      val c = coalesce(col("c"), lit(0.0))
      val joined = ranks.join(contrib, col("node") === col("dst"), "left")
      val (next, inflow) =
        if (g.nDangling == 0) (joined, c)
        else (joined.crossJoin(ranks.where(col("dangling"))
          .agg(coalesce(sum("rank"), lit(0.0)).as("dmass"))),
          c + share(col("dmass")))
      next.select(carried :+ (tele + lit(damping) * inflow).as("rank") :+
        col("rank").as("prev"): _*)
    }
    val run = tol match {
      case None => iterate(init, iters)(step)
      case Some(t) => iterate(init, iters,
        Seq(sum(abs(col("rank") - col("prev"))).as("l1")),
        (s, _) => s("l1").asInstanceOf[Double] < t)(step)
    }
    RankResult(run.state.select("node", "rank"),
      run.stats.map(_("l1").asInstanceOf[Double]))
  }

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
   * would silently lose the mass flowing into it, so the sink count read
   * while the graph is pinned fails the call instead. Fixed `iters`
   * rounds: rank is a diagnostic weight here, not a fixpoint contract —
   * 5 rounds separate hubs from leaves at any scale, and a fixed round
   * count keeps the result a pure function of the input (no convergence
   * race).
   *
   * Determinism: transition probabilities are one exact IEEE division of
   * int64 weights per edge; per-iteration sums carry ~1e-16 of engine
   * sum-order noise, far inside the harness's 1e-6 snap even compounded
   * over the rounds.
   *
   * Scale shape: two setup actions pin the edge projection and the node
   * table (reading N and the sink count); then each round is ONE
   * src-keyed equi-join (rank is node-sized, edges dominate) + ONE
   * dst-keyed aggregate with map-side partials — the canonical
   * distributed PageRank — pinned by the round's one checkpoint.
   */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    runRank(edges, None, iters, damping, tol = None, sinksAllowed = false).ranks
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

  /** The distinct endpoints of a canonical edge set. */
  private def nodesOf(und: DataFrame): DataFrame =
    und.select(col("u").as("node")).union(und.select(col("v").as("node"))).distinct()

  /** Per-node degree of a canonical edge set — shared by
    * [[orientByDegree]], [[degreeStats]] and the k-core round. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** The (degree, id)-acyclic orientation of a canonical edge set —
    * every edge pointed from its (deg, id)-smaller endpoint `a` to the
    * larger `b`, bounding each out-degree by O(√m) (see
    * [[triangleCounts]]'s scaladoc for why that defuses hubs). */
  private def orientByDegree(und: DataFrame): DataFrame = {
    val deg = degrees(und)
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
    val nodes = nodesOf(und).agg(count(lit(1)).as("n_nodes"))
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
    val und = canonicalUndirected(edges)
    val deg = degrees(und)
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

  /** One k-core peel round, shared by [[kCoreAlive]] and
    * [[kCoreFixpoint]]: the degree of every node in the subgraph induced
    * by the previous round's survivors (`deg ≥ k`). */
  private def kCoreStep(und: DataFrame, k: Int)(deg: DataFrame): DataFrame = {
    val alive = deg.where(col("deg") >= k).select("node")
    degrees(und
      .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(alive.select(col("node").as("v")), Seq("v"), "left_semi"))
  }

  /** The pinned canonical edges of a k-core peel and its round-0 state:
    * every node alive, through a placeholder degree of `k`. */
  private def kCoreStart(edges: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val und = canonicalUndirected(edges).localCheckpoint()
    (und, nodesOf(und).select(col("node"), lit(k.toLong).as("deg")))
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
   * Scale shape: one setup action pins the canonical edges; each round
   * is two node-sized semi-joins restricting the edge table to
   * surviving endpoints and ONE map-side-partial degree aggregate, pinned
   * by the round's checkpoint — no edge explosion, no inequality join.
   * Peeling is monotone, so the survivor set (the join's build side)
   * only shrinks round over round.
   */
  def kCoreAlive(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(rounds >= 1, "rounds must be at least 1")
    val (und, start) = kCoreStart(edges, k)
    iterate(start, rounds)(kCoreStep(und, k)).state.where(col("deg") >= k)
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
   * a blind fixed round count (the [[pageRankConverged]]
   * measured-stopping-rule pattern). The survivor set is monotone
   * decreasing (a round's degrees are computed over the previous
   * survivors only), so an unchanged COUNT implies an unchanged SET
   * implies the fixed point — one cheap long per round decides, and the
   * per-round counts come back in [[CoreResult.aliveCounts]] (the
   * RankResult.l1Deltas convention) so the peel depth is measured, not
   * guessed. Round 1's survivor count is compared with round 1's row
   * count: every node of the canonical edge set has degree ≥ 1 there,
   * so that row count is the starting node count.
   *
   * Convergence is also ORACLE-SAFE under a fixed unroll: once the set
   * stops changing, further peel rounds are identity — an oracle that
   * unrolls `maxRounds` rounds equals the early-stopped result whenever
   * the fixed point is reached within the budget, and equals the
   * maxRounds-th round otherwise (both sides agree either way).
   *
   * Scale shape: [[kCoreAlive]]'s exact per-round plan; the survivor
   * count is observed inside the round's own checkpoint, so the
   * measured stop costs no extra action.
   */
  def kCoreFixpoint(edges: DataFrame, k: Int, maxRounds: Int = 30): CoreResult = {
    require(k >= 1, "k must be at least 1")
    require(maxRounds >= 1, "maxRounds must be at least 1")
    val (und, start) = kCoreStart(edges, k)
    def alive(s: Stat) = s("alive").asInstanceOf[Long]
    val run = iterate(start, maxRounds,
      Seq(count(lit(1)).as("nodes"), count(when(col("deg") >= k, 1)).as("alive")),
      (s, prev) => alive(s) == prev.fold(s("nodes").asInstanceOf[Long])(alive))(
      kCoreStep(und, k))
    CoreResult(run.state.where(col("deg") >= k), run.stats.map(alive), run.stopped)
  }

  /** The pinned LPA edge table — both directions of every canonical
    * edge plus one self-loop per node (the node's vote for its own
    * label) — and the round-0 labels, every node its own. The canonical
    * edges are pinned first: the table reads them three times, and
    * unpinned each read re-runs their distinct aggregate. */
  private def lpaStart(edges: DataFrame): (DataFrame, DataFrame) = {
    val canon = canonicalUndirected(edges).localCheckpoint()
    val und = canon
      .union(canon.select(col("v").as("u"), col("u").as("v")))
      .union(nodesOf(canon).select(col("node").as("u"), col("node").as("v")))
      .localCheckpoint()
    (und, und.where(col("u") === col("v"))
      .select(col("u").as("node"), col("u").as("label")))
  }

  /** One synchronous LPA round, shared by [[labelPropagation]] and
    * [[labelPropagationConverged]]: every node adopts the plurality label
    * among its votes, ties to the smallest label. */
  private def lpaStep(und: DataFrame)(lbl: DataFrame): DataFrame = {
    val w = Window.partitionBy("u").orderBy(col("c").desc, col("nl").asc)
    und
      .join(lbl.select(col("node").as("v"), col("label").as("nl")), "v")
      .groupBy(col("u"), col("nl")).agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("u").as("node"), col("nl").as("label"))
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
   * Scale shape: two setup actions pin the canonical and the two-way
   * edge tables; each round is ONE edge-sized equi-join on the
   * neighbor endpoint, one (node, label) count aggregate (map-side
   * partial), and one per-node argmax window whose partitions are
   * degree-bounded — never node-count-bounded — pinned by the round's
   * checkpoint.
   */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be at least 1")
    val (und, start) = lpaStart(edges)
    iterate(start, rounds)(lpaStep(und)).state
  }

  /** [[labelPropagationConverged]]'s readout: the final label table,
    * the measured per-round label-change counts, and whether a round
    * with zero changes was reached within the budget. */
  final case class LpaResult(labels: DataFrame, changesPerRound: Seq[Long],
      converged: Boolean)

  /**
   * [[labelPropagation]] driven to convergence: stops after the first
   * round in which NO node changed label (or at `maxRounds`), returning
   * the measured per-round change counts (the [[pageRankConverged]] /
   * [[kCoreFixpoint]] stopping-rule pattern). Each synchronous round is
   * a pure function of the previous label table, so a zero-change round
   * is a genuine fixed point: every subsequent round reproduces it
   * exactly. That also makes the early stop ORACLE-SAFE under a fixed
   * unroll — rounds past convergence are identity, so an oracle
   * unrolling `maxRounds` rounds matches whether or not the graph
   * converged inside the budget. (Synchronous LPA can 2-cycle on
   * bipartite-ish structure even with the self-loop vote — then
   * `converged` comes back false and the result is the maxRounds-th
   * table, again matching the unrolled oracle.)
   *
   * Scale shape: [[labelPropagation]]'s per-round plan plus one
   * node-sized join against the previous labels; the change count is
   * observed inside the round's own checkpoint.
   */
  def labelPropagationConverged(edges: DataFrame, maxRounds: Int = 20): LpaResult = {
    require(maxRounds >= 1, "maxRounds must be at least 1")
    val (und, start) = lpaStart(edges)
    def moved(s: Stat) = s("moved").asInstanceOf[Long]
    val run = iterate(start, maxRounds,
      Seq(count(when(col("label") =!= col("prev"), 1)).as("moved")),
      (s, _) => moved(s) == 0L) { lbl =>
      lpaStep(und)(lbl).join(lbl.select(col("node"), col("label").as("prev")), "node")
    }
    LpaResult(run.state.select("node", "label"), run.stats.map(moved), run.stopped)
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
    val und = canonicalUndirected(edges)
    val adj = und.select(col("u").as("w"), col("v").as("n"))
      .union(und.select(col("v").as("w"), col("u").as("n")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("deg"))
    val capped = adj.join(deg.where(col("deg") <= maxDeg), "w")
    val wedges = PairSurface.pairs(capped, Seq("w"), "n")
      .select(col("a.n").as("u"), col("b.n").as("v"),
        col("a.deg").as("dw"))
    wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("cn"),
        sum(lit(1.0) / col("dw").cast("double")).as("ra"))
      .where(col("cn") >= minCommon)
      .join(und, Seq("u", "v"), "left_anti")
  }

  /** `base` (one row per node) with `raw`'s per-node sums `v` (keyed by
    * `key`) L1-normalized into column `out`; nodes `raw` misses get 0.
    * The normalizer is a 1-row sum consumed via a broadcast cross join —
    * a sanctioned scalar broadcast, never a driver action. */
  private def normalizedOnto(base: DataFrame, raw: DataFrame, key: String,
      v: String, out: String): DataFrame = {
    val total = raw.agg(coalesce(sum(col(v)), lit(0.0)).as("s"))
    base.join(raw, col("node") === col(key), "left")
      .crossJoin(broadcast(total))
      .select(base.columns.map(col) :+
        when(col("s") > 0, coalesce(col(v), lit(0.0)) / col("s"))
          .otherwise(lit(0.0)).as(out): _*)
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
   * Every hub starts at 1: round 1 normalizes it away, so no node count
   * is needed, and an empty edge table returns an empty table.
   *
   * Determinism: per-round sums carry ~1e-15 of engine sum-order noise
   * and the normalizing division is correctly rounded — compounded over
   * the fixed rounds this stays far inside the harness's 1e-6 snap (the
   * [[pageRank]] argument).
   *
   * Scale shape: one setup action pins the distinct edges; each round
   * is TWO edge-sized equi-joins (one per direction) each feeding
   * a map-side-partial aggregate and a 1-row normalizer, pinned by the
   * round's one checkpoint.
   */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be at least 1")
    val e = directed(edges).select(col("src"), col("dst")).distinct().localCheckpoint()
    val start = e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .distinct().select(col("node"), lit(1.0).as("hub"))
    iterate(start, iters) { hub =>
      val auth = normalizedOnto(hub.select("node"),
        e.join(hub, col("src") === col("node"))
          .groupBy(col("dst")).agg(sum(col("hub")).as("a")), "dst", "a", "auth")
      normalizedOnto(auth,
        e.join(auth, col("dst") === col("node"))
          .groupBy(col("src")).agg(sum(col("auth")).as("h")), "src", "h", "hub")
    }.state.select("node", "hub", "auth")
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
   * dangling-mass aggregate over the state's sink rows consumed via cross
   * join — a sanctioned scalar broadcast, never a driver action.
   */
  def pageRankDangling(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    runRank(edges, None, iters, damping, tol = None, sinksAllowed = true).ranks
  }

  /**
   * [[pageRankDangling]] driven to convergence: stops after the first
   * round whose L1 movement `Σ|rank_t − rank_{t−1}|` drops below `tol`
   * (or at `maxIters`), returning the measured per-round deltas. The
   * state carries the previous rank, so the delta is observed inside the
   * round's own checkpoint — a measured stop costs no extra action; use
   * [[pageRankDangling]] when a fixed round count is the contract.
   */
  def pageRankConverged(edges: DataFrame, tol: Double, maxIters: Int = 20,
      damping: Double = 0.85): RankResult = {
    require(tol > 0, "tol must be positive")
    require(maxIters >= 1, "maxIters must be at least 1")
    runRank(edges, None, maxIters, damping, tol = Some(tol), sinksAllowed = true)
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
   * must be non-empty — validated by the seed count read while the
   * node table is pinned).
   *
   * Scale shape: [[pageRankDangling]]'s exact per-round plan, with the
   * teleport weight e carried in the node state; the seed flags join the
   * node table as it is pinned.
   */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    runRank(edges, Some(seeds), iters, damping, tol = None, sinksAllowed = true).ranks
  }
}
