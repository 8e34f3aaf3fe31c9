package graft.ext

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** [[Graph.pageRank]]: hand-computed ranks on a tiny graph, mass
  * conservation, hub dominance, and the per-iteration plan shape. */
class GraphSpec extends SparkSpec {
  implicit lazy val s: SparkSession = spark
  import s.implicits._

  // undirected (symmetrized) star: hub h ↔ a, b, c — plus a 2-cycle x ↔ y
  private lazy val star = Seq(
    ("h", "a", 1L), ("a", "h", 1L),
    ("h", "b", 1L), ("b", "h", 1L),
    ("h", "c", 1L), ("c", "h", 1L),
    ("x", "y", 1L), ("y", "x", 1L)
  ).toDF("src", "dst", "weight")

  private def ranksOf(iters: Int): Map[String, Double] =
    Graph.pageRank(star, iters).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("one iteration matches the hand-computed update") {
    val r = ranksOf(1)
    val n = 6.0
    val base = (1.0 - 0.85) / n
    // leaves a,b,c: only in-edge is h, whose out-mass splits 3 ways
    assertApprox(r("a"), base + 0.85 * (1.0 / n) / 3.0, 1e-12)
    // hub: receives all of a, b, c
    assertApprox(r("h"), base + 0.85 * 3.0 * (1.0 / n), 1e-12)
    // cycle nodes swap their full mass
    assertApprox(r("x"), base + 0.85 * (1.0 / n), 1e-12)
  }

  test("rank mass is conserved and the hub dominates its leaves") {
    val r = ranksOf(5)
    // no dangling nodes after symmetrization → total mass stays 1
    assertApprox(r.values.sum, 1.0, 1e-9)
    assert(r("h") > r("a") && r("a") > 0.0)
    // symmetric leaves tie exactly
    assertApprox(r("a"), r("b"), 0.0)
    assertApprox(r("a"), r("c"), 0.0)
    // the 2-cycle keeps its initial mass split evenly
    assertApprox(r("x"), r("y"), 0.0)
  }

  test("zero iterations return the uniform prior") {
    val r = ranksOf(0)
    r.values.foreach(v => assertApprox(v, 1.0 / 6.0, 1e-12))
  }

  test("weighted edges bias the walk proportionally") {
    val g = Seq(
      ("u", "a", 3L), ("u", "b", 1L),
      ("a", "u", 1L), ("b", "u", 1L)
    ).toDF("src", "dst", "weight")
    val r = Graph.pageRank(g, 1).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    // u routes 3/4 of its mass to a, 1/4 to b
    assert(r("a") > r("b"))
    assertApprox(r("a") - r("b"),
      0.85 * (1.0 / 3.0) * (3.0 / 4.0 - 1.0 / 4.0), 1e-12)
  }

  /** Every SQL action `body` runs, in order, as (action, executed
    * plan). Fence actions bracket the call, so actions left on the
    * listener bus by earlier tests never count (the SparseAnnSpec
    * action-budget pattern). */
  private def actionsOf(body: => Unit): Seq[(String, String)] = {
    val fenceCol = "graph_action_fence"
    val fences = new AtomicInteger(0)
    val actions = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == fenceCol)) fences.incrementAndGet()
        else if (fences.get() == 1) actions.add(funcName -> qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        onSuccess(funcName, qe, 0L)
    }
    def fence(seen: Int): Unit = {
      spark.range(1).toDF(fenceCol).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (fences.get() < seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(fences.get() == seen, "fence action never observed")
    }
    spark.listenerManager.register(listener)
    try {
      fence(1)
      body
      fence(2)
      actions.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("each iteration plans an edge join + dst aggregate, no cartesian") {
    // the round plans themselves, read as they run (after the two setup
    // pins): the returned frame is only a scan of the last checkpoint
    val rounds = actionsOf(Graph.pageRank(star, 2)).drop(2)
    assert(rounds.size == 2, rounds.map(_._1))
    rounds.foreach { case (_, plan) =>
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
      assert("HashAggregate\\(keys=\\[dst#".r.findFirstIn(plan).nonEmpty, plan)
    }
  }

  test("action budget: setup pins, then one action per round") {
    def actions(body: => Unit): Int = actionsOf(body).size
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    // PageRank pins its edges and its node table, LPA its canonical and
    // its two-way edges; hits and the k-core pin one edge table
    assert(actions(Graph.pageRank(star, 3)) == 2 + 3)
    assert(actions(Graph.pageRankDangling(chain, 3)) == 2 + 3)
    assert(actions(Graph.personalizedPageRank(chain, Seq("u").toDF("node"), 3)) == 2 + 3)
    assert(actions(Graph.hits(g, 3)) == 1 + 3)
    assert(actions(Graph.kCoreAlive(g, 2, 3)) == 1 + 3)
    assert(actions(Graph.labelPropagation(g, 3)) == 2 + 3)
    // the converged variants read their statistic inside the round's
    // own action
    var pr: Graph.RankResult = null
    assert(actions { pr = Graph.pageRankConverged(chain, 1e-3, 50) } ==
      2 + pr.l1Deltas.size)
    var core: Graph.CoreResult = null
    assert(actions { core = Graph.kCoreFixpoint(g, 2, 10) } == 1 + core.aliveCounts.size)
    var lpa: Graph.LpaResult = null
    assert(actions { lpa = Graph.labelPropagationConverged(g, 10) } ==
      2 + lpa.changesPerRound.size)
  }

  test("labelPropagation splits bridged cliques into two communities") {
    // two triangles bridged by one edge: CC would merge them; LPA keeps
    // the dense regions apart (hand-traced with the self-loop + min-tie
    // rule: round 1 floods each triangle with its min id, round 2 pulls
    // the bridge endpoint 4 back to its own side, round 3 is stable)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L), got.toSeq.sorted.mkString(", "))
    // deterministic: a rerun returns the identical labeling
    val again = Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("labelPropagation: a clique floods to its min id in one round") {
    val edges = Seq((10L, 11L), (10L, 12L), (11L, 12L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L), got)
  }

  test("pageRank fails fast on dst-only nodes (silent mass loss)") {
    val g = Seq(("u", "sink", 1L)).toDF("src", "dst", "weight")
    val e = intercept[IllegalArgumentException](Graph.pageRank(g, 1))
    assert(e.getMessage.contains("pageRankDangling"))
  }

  // directed chain u → v → sink: sink has no out-edges
  private lazy val chain = Seq(
    ("u", "v", 1L), ("v", "sink", 1L)
  ).toDF("src", "dst", "weight")

  private def danglingRanks(iters: Int): Map[String, Double] =
    Graph.pageRankDangling(chain, iters).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pageRankDangling: one iteration matches the hand-computed update") {
    val r = danglingRanks(1)
    val n = 3.0; val d = 0.85
    val base = (1.0 - d) / n
    // D_0 = 1/3 (sink's uniform share), redistributed as D/n to everyone
    val dm = (1.0 / n) / n
    assertApprox(r("u"), base + d * dm, 1e-12)                 // no in-edges
    assertApprox(r("v"), base + d * (1.0 / n + dm), 1e-12)     // all of u
    assertApprox(r("sink"), base + d * (1.0 / n + dm), 1e-12)  // all of v
    assertApprox(r.values.sum, 1.0, 1e-12)
  }

  test("pageRankDangling conserves rank mass every round") {
    (1 to 4).foreach { iters =>
      assertApprox(danglingRanks(iters).values.sum, 1.0, 1e-9)
    }
  }

  test("pageRankDangling handles src-only graphs identically to pageRank") {
    // no sinks → dangling set empty → must equal plain pageRank exactly
    val plain = Graph.pageRank(star, 3).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dng = Graph.pageRankDangling(star, 3).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    plain.foreach { case (k, v) => assertApprox(dng(k), v, 1e-12) }
  }

  test("triangleCounts: shared-edge triangles, stars are triangle-free") {
    import s.implicits._
    // triangles {1,2,3} and {2,3,4} share edge (2,3); node 5 hangs off 4
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val r = Graph.triangleCounts(e).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    // a star has wedges but no closing edges
    val st = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    assert(Graph.triangleCounts(st).count() === 0L)
  }

  test("triangleCounts canonicalizes duplicates, reversals, self-loops") {
    import s.implicits._
    // the SAME triangle written messily: both directions, dupes, a loop
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (1L, 3L), (2L, 2L)).toDF("src", "dst")
    val r = Graph.triangleCounts(e).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts orients hub edges inward (skew-bounded wedges)") {
    import s.implicits._
    // K4 on {1,2,3,4}: 4 triangles, each node in C(3,2)=3 of them
    val e = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("src", "dst")
    val r = Graph.triangleCounts(e).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCoreAlive peels a chain down to its 2-core across rounds") {
    import s.implicits._
    // triangle {1,2,3} with a pendant path 3—4—5: k=2 peels 5 (deg 1) in
    // round 1, then 4 (its induced degree FALLS to 1) in round 2 — the
    // cascade needs the re-round, which is what this pins
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val r1 = Graph.kCoreAlive(e, k = 2, rounds = 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r1.keySet === Set(1L, 2L, 3L, 4L)) // 5 gone; 4 still deg 2
    // round 2's degrees are measured in the ROUND-1 survivor subgraph
    // (4 still present), so 3 reports deg 3 while the cascade drops 4
    val r2 = Graph.kCoreAlive(e, k = 2, rounds = 2).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2 === Map(1L -> 2L, 2L -> 2L, 3L -> 3L))
    // fixed point: degrees settle to the induced 2-core's own degrees
    val r3 = Graph.kCoreAlive(e, k = 2, rounds = 4).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r3 === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCoreAlive returns the whole graph when nothing is below k") {
    import s.implicits._
    val e = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("src", "dst") // K4: every degree is 3
    val r = Graph.kCoreAlive(e, k = 3, rounds = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(Graph.kCoreAlive(e, k = 4, rounds = 2).count() === 0L)
  }

  test("pageRankConverged: L1 deltas shrink and the rule stops early") {
    val res = Graph.pageRankConverged(chain, tol = 1e-3, maxIters = 50)
    assert(res.l1Deltas.nonEmpty && res.l1Deltas.length < 50)
    assert(res.l1Deltas.last < 1e-3)
    // movement is (eventually strictly) decreasing on this contraction
    assert(res.l1Deltas.sliding(2).forall {
      case Seq(a, b) => b <= a + 1e-12
      case _ => true
    })
    assertApprox(res.ranks.collect().map(_.getDouble(1)).sum, 1.0, 1e-9)
  }

  test("linkPredict: 4-cycle diagonals, hand-computed RA, edges never predicted") {
    // square a–b–c–d–a: the only non-edges are the diagonals (a,c) and
    // (b,d); each shares BOTH its neighbors (deg 2 each) → cn = 2,
    // ra = 1/2 + 1/2 = 1.0 exactly
    val square = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val got = Graph.linkPredict(square, minCommon = 2, maxDeg = 96)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(("a", "c", 2L, 1.0), ("b", "d", 2L, 1.0)))
    // minCommon above the shared-neighbor count empties the prediction
    assert(Graph.linkPredict(square, minCommon = 3, maxDeg = 96).isEmpty)
  }

  test("linkPredict: the maxDeg cap silences hub through-nodes") {
    // star h–{a,b,c} plus edge a–b: through h the wedge (a,c),(b,c)
    // predictions exist ((a,b) is a real edge); capping h away (deg 3)
    // leaves only deg-2 a and b as through-nodes, whose wedges all
    // close over existing edges → empty
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c"), ("a", "b"))
      .toDF("src", "dst")
    val uncapped = Graph.linkPredict(star, minCommon = 1, maxDeg = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(uncapped.toSeq == Seq(
      ("a", "c", 1L, 1.0 / 3), ("b", "c", 1L, 1.0 / 3)))
    assert(Graph.linkPredict(star, minCommon = 1, maxDeg = 2).isEmpty)
  }

  test("personalizedPageRank: mass re-enters only through seeds, hand-computed") {
    // a ⇄ b, a → s (sink), plus an x ⇄ y island unreachable from the seed
    val e = Seq(("a", "b", 1L), ("b", "a", 1L), ("a", "s", 1L),
        ("x", "y", 1L), ("y", "x", 1L))
      .toDF("src", "dst", "weight")
    val seeds = Seq("a").toDF("node")
    val r2 = Graph.personalizedPageRank(e, seeds, iters = 2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // round 1: r = (0.15, 0.425, 0.425) on (a, b, s);
    // round 2: D = 0.425 teleports BACK to a →
    //   a = 0.15 + 0.85·(0.425 + 0.425) = 0.8725, b = s = 0.85·0.075
    assertApprox(r2("a"), 0.8725, 1e-12)
    assertApprox(r2("b"), 0.06375, 1e-12)
    assertApprox(r2("s"), 0.06375, 1e-12)
    // the island can never receive mass: no seed, no inbound path
    assert(r2("x") == 0.0 && r2("y") == 0.0)
    // Σrank = 1 even with the sink and the dead island
    assertApprox(r2.values.sum, 1.0, 1e-12)
    // a seed set disjoint from the graph is rejected loudly
    intercept[IllegalArgumentException](
      Graph.personalizedPageRank(e, Seq("zzz").toDF("node"), iters = 1))
  }

  test("hits: hand-computed two-round hubs/authorities, both L1-normalized") {
    // 1→3, 2→3, 2→4: node 2 points at both authorities → best hub;
    // node 3 has both hubs pointing in → best authority
    val e = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val got = Graph.hits(e, iters = 2).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Double]("hub"), r.getAs[Double]("auth"))))
      .toMap
    // round 1: auth ∝ (3: ½, 4: ¼) → (⅔, ⅓); hub ∝ (1: ⅔, 2: 1) → (0.4, 0.6)
    // round 2: auth ∝ (3: 1, 4: 0.6) → (0.625, 0.375);
    //          hub ∝ (1: 0.625, 2: 1) → (5/13, 8/13)
    assertApprox(got(1L)._1, 5.0 / 13.0, 1e-12)
    assertApprox(got(2L)._1, 8.0 / 13.0, 1e-12)
    assertApprox(got(3L)._2, 0.625, 1e-12)
    assertApprox(got(4L)._2, 0.375, 1e-12)
    // pure sources carry auth = 0, pure sinks hub = 0 — and stay present
    assert(got(1L)._2 == 0.0 && got(3L)._1 == 0.0)
    // L1 conservation on both tables
    assertApprox(got.values.map(_._1).sum, 1.0, 1e-12)
    assertApprox(got.values.map(_._2).sum, 1.0, 1e-12)
    // duplicate edges collapse to the 0/1 adjacency
    val dup = Seq((1L, 3L), (1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val d = Graph.hits(dup, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("hub")).toMap
    assertApprox(d(2L), 8.0 / 13.0, 1e-12)
  }

  test("degreeStats: star is perfectly disassortative, cycle degenerates to 0") {
    // K_{1,3}: hub degree 3, leaves 1 — Newman r = −1 by hand:
    // M=3, Sjk=9, Sj=12, Sj2=30 → (4·3·9−144)/(2·3·30−144) = −36/36
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val s1 = Graph.degreeStats(star).collect().head
    assert(s1.getLong(0) == 4L && s1.getLong(1) == 3L)
    assert(s1.getLong(2) == 1L && s1.getLong(3) == 3L)
    assertApprox(s1.getDouble(4), 1.5, 1e-12)
    assertApprox(s1.getDouble(5), -1.0, 1e-12)

    // C4 is 2-regular: zero degree variance → the guard returns 0, not NaN;
    // duplicate and reversed edges collapse to the same undirected set
    val cycle = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val s2 = Graph.degreeStats(cycle).collect().head
    assert(s2.getLong(1) == 4L)
    assertApprox(s2.getDouble(5), 0.0, 1e-12)
  }

  test("kCoreFixpoint peels a path to empty with a measured, converging count") {
    // path a-b-c-d-e: 2-core of a tree is empty; each round peels the
    // current leaves, so the counts shrink monotonically to 0
    val path = Seq(("a","b"), ("b","c"), ("c","d"), ("d","e"))
      .toDF("src", "dst")
    val r = Graph.kCoreFixpoint(path, k = 2, maxRounds = 10)
    assert(r.converged)
    assert(r.core.count() === 0L)
    assert(r.aliveCounts.last === 0L)
    assert(r.aliveCounts === r.aliveCounts.sorted.reverse) // monotone
    // needs 3+ peel rounds (ends 2 rounds before a blind 10-round run)
    assert(r.aliveCounts.length >= 3 && r.aliveCounts.length < 10)
  }

  test("kCoreFixpoint keeps a clique and matches a deep fixed-round peel") {
    // 4-clique with a pendant tail f-g: the 2-core fixpoint is the clique
    val cl = for { x <- Seq("a","b","c","d"); y <- Seq("a","b","c","d") if x < y }
      yield (x, y)
    val edges = (cl ++ Seq(("d","f"), ("f","g"))).toDF("src", "dst")
    val r = Graph.kCoreFixpoint(edges, k = 2, maxRounds = 10)
    assert(r.converged)
    val fix = r.core.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(fix === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // a fixed-round run deep enough must agree row-for-row
    val deep = Graph.kCoreAlive(edges, 2, rounds = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(deep === fix)
  }

  test("labelPropagationConverged stops at zero changes and matches deep fixed rounds") {
    // two 3-cliques joined by one bridge — the labelPropagation fixture
    val cl = Seq(("a","b"), ("b","c"), ("a","c"),
      ("x","y"), ("y","z"), ("x","z"), ("c","x")).toDF("src", "dst")
    val r = Graph.labelPropagationConverged(cl, maxRounds = 15)
    assert(r.converged)
    assert(r.changesPerRound.last === 0L)
    assert(r.changesPerRound.length < 15) // measured stop, not the budget
    val conv = r.labels.collect().map(x => x.getString(0) -> x.getString(1)).toMap
    // converged labels are a fixed point: one more synchronous round of
    // the fixed-round form at the SAME depth reproduces them
    val deep = Graph.labelPropagation(cl, rounds = r.changesPerRound.length + 3)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(deep === conv)
  }
}
