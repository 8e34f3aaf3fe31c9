package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec

/** Every iterative [[Graph]] function on degenerate inputs, checked
  * against plain-Scala brute forces — or rejected by a `require` that
  * names the parameter. Null policy: an edge with a null endpoint is
  * dropped. */
class GraphDegenerateSpec extends SparkSpec {
  implicit lazy val s: SparkSession = spark
  import s.implicits._

  private type E = (Option[Long], Option[Long], Long)

  private def e(a: Long, b: Long): E = (Some(a), Some(b), 1L)

  /** The synchronous LPA update 2-cycles here even with the self-loop
    * vote: K(2,3) between {1, 5} and {2, 3, 4}, plus a pendant 0–1. */
  private val oscillating: Seq[E] =
    Seq((0L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (2L, 5L), (3L, 5L), (4L, 5L))
      .map { case (a, b) => e(a, b) }

  private val inputs: Seq[(String, Seq[E])] = Seq(
    "empty edge table" -> Nil,
    "one edge" -> Seq(e(1, 2)),
    "self-loops only" -> Seq(e(1, 1), e(2, 2)),
    "repeated edge rows" -> Seq(e(1, 2), e(1, 2), e(2, 3), e(3, 1), e(3, 1)),
    "an edge with a null endpoint" ->
      Seq(e(1, 2), e(2, 1), (None, Some(1L), 1L), (Some(2L), None, 1L),
        (None, None, 1L), e(2, 3), e(3, 2)),
    "two components" -> Seq(e(1, 2), e(2, 1), e(3, 4), e(4, 5), e(5, 3)),
    "the LPA 2-cycle" -> oscillating)

  private def df(es: Seq[E]): DataFrame = es.toDF("src", "dst", "weight")

  /** Rows with both endpoints present — the null policy. */
  private def kept(es: Seq[E]): Seq[(Long, Long, Long)] =
    es.collect { case (Some(a), Some(b), w) => (a, b, w) }

  // ---- brute forces ----

  /** Power iteration over `src ∪ dst`: teleport and sink mass go to the
    * uniform distribution, or to the seeds when given. */
  private def bruteRank(es: Seq[E], iters: Int, d: Double,
      seeds: Option[Set[Long]]): Map[Long, Double] = {
    val ed = kept(es)
    val nodes = (ed.map(_._1) ++ ed.map(_._2)).distinct
    val wout = ed.groupBy(_._1).map { case (u, out) => u -> out.map(_._3).sum }
    val sinks = nodes.filterNot(wout.contains)
    val tele: Map[Long, Double] = seeds match {
      case None => nodes.map(_ -> 1.0 / nodes.size).toMap
      case Some(sd) =>
        val m = nodes.count(sd)
        nodes.map(v => v -> (if (sd(v)) 1.0 / m else 0.0)).toMap
    }
    var r = tele
    for (_ <- 1 to iters) {
      val dm = sinks.map(r).sum
      val in = ed.groupBy(_._2).map { case (v, into) =>
        v -> into.map(x => r(x._1) * x._3.toDouble / wout(x._1)).sum }
      r = nodes.map(v =>
        v -> ((1 - d) * tele(v) + d * (in.getOrElse(v, 0.0) + dm * tele(v)))).toMap
    }
    r
  }

  /** HITS over the distinct 0/1 adjacency, both tables L1-normalized. */
  private def bruteHits(es: Seq[E], iters: Int): Map[Long, (Double, Double)] = {
    val ed = kept(es).map(x => (x._1, x._2)).distinct
    val nodes = (ed.map(_._1) ++ ed.map(_._2)).distinct
    def norm(m: Map[Long, Double]): Map[Long, Double] = {
      val t = m.values.sum
      m.map { case (k, v) => k -> (if (t > 0) v / t else 0.0) }
    }
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = nodes.map(_ -> 0.0).toMap
    for (_ <- 1 to iters) {
      auth = norm(nodes.map(v => v -> ed.filter(_._2 == v).map(x => hub(x._1)).sum).toMap)
      hub = norm(nodes.map(u => u -> ed.filter(_._1 == u).map(x => auth(x._2)).sum).toMap)
    }
    nodes.map(v => v -> ((hub(v), auth(v)))).toMap
  }

  /** The canonical undirected edge set: self-loops and null edges out. */
  private def undirected(es: Seq[E]): Seq[(Long, Long)] =
    kept(es).filter(x => x._1 != x._2)
      .map(x => (math.min(x._1, x._2), math.max(x._1, x._2))).distinct

  /** Synchronous k-core peel: per round, each node's degree in the
    * subgraph induced by the last survivors. Returns the last round's
    * surviving degrees and the per-round survivor counts. */
  private def brutePeel(es: Seq[E], k: Int, rounds: Int,
      toFixpoint: Boolean): (Map[Long, Long], Seq[Long], Boolean) = {
    val und = undirected(es)
    var alive = (und.map(_._1) ++ und.map(_._2)).toSet
    var deg = Map.empty[Long, Long]
    val counts = Seq.newBuilder[Long]
    var converged = false
    var r = 0
    while (r < rounds && !(toFixpoint && converged)) {
      val induced = und.filter(x => alive(x._1) && alive(x._2))
      deg = (induced.map(_._1) ++ induced.map(_._2))
        .groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
      val next = deg.filter(_._2 >= k).keySet
      counts += next.size.toLong
      converged = next.size == alive.size
      alive = next
      r += 1
    }
    (deg.filter(_._2 >= k), counts.result(), converged)
  }

  /** Synchronous LPA: plurality over neighbor labels plus the node's own
    * (the self-loop vote), ties to the smallest label. */
  private def bruteLpa(es: Seq[E], rounds: Int,
      toFixpoint: Boolean): (Map[Long, Long], Seq[Long], Boolean) = {
    val und = undirected(es)
    val nodes = (und.map(_._1) ++ und.map(_._2)).distinct
    val nbrs = nodes.map(v => v -> (v +: und.collect {
      case (a, b) if a == v => b
      case (a, b) if b == v => a
    })).toMap
    var lbl = nodes.map(v => v -> v).toMap
    val changes = Seq.newBuilder[Long]
    var converged = false
    var r = 0
    while (r < rounds && !(toFixpoint && converged)) {
      val next = nodes.map { v =>
        val votes = nbrs(v).map(lbl).groupBy(identity).map { case (l, ls) => l -> ls.size }
        v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
      val moved = nodes.count(v => next(v) != lbl(v)).toLong
      changes += moved
      converged = moved == 0
      lbl = next
      r += 1
    }
    (lbl, changes.result(), converged)
  }

  // ---- readers ----

  private def ranks(d: DataFrame): Map[Long, Double] =
    d.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def longs(d: DataFrame): Map[Long, Long] =
    d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double],
      what: String): Unit = {
    assert(got.keySet == want.keySet, s"$what: nodes ${got.keySet} != ${want.keySet}")
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) <= 1e-12, s"$what: node $k ${got(k)} != $v")
    }
  }

  private def rejects(body: => Any, param: String): Unit = {
    val err = intercept[IllegalArgumentException](body)
    assert(err.getMessage.contains(param), s"'${err.getMessage}' does not name $param")
  }

  // ---- the contract ----

  test("PageRank family on degenerate inputs: brute-force ranks or a require") {
    for ((name, es) <- inputs) {
      val g = df(es)
      val ed = kept(es)
      val nodes = (ed.map(_._1) ++ ed.map(_._2)).toSet
      if (nodes.isEmpty) {
        rejects(Graph.pageRank(g, 2), "no nodes")
        rejects(Graph.pageRankDangling(g, 2), "no nodes")
        rejects(Graph.pageRankConverged(g, 1e-6), "no nodes")
        rejects(Graph.personalizedPageRank(g, Seq(1L).toDF("node"), 2), "no nodes")
      } else {
        val dangling = ed.map(_._1).toSet != nodes
        if (dangling) rejects(Graph.pageRank(g, 2), "pageRankDangling")
        else assertClose(ranks(Graph.pageRank(g, 2)), bruteRank(es, 2, 0.85, None),
          s"$name pageRank")
        assertClose(ranks(Graph.pageRankDangling(g, 3)), bruteRank(es, 3, 0.85, None),
          s"$name pageRankDangling")
        val conv = Graph.pageRankConverged(g, tol = 1e-9, maxIters = 4)
        assertClose(ranks(conv.ranks), bruteRank(es, conv.l1Deltas.size, 0.85, None),
          s"$name pageRankConverged")
        val seed = nodes.min
        assertClose(
          ranks(Graph.personalizedPageRank(g, Seq(seed, 999L).toDF("node"), 3)),
          bruteRank(es, 3, 0.85, Some(Set(seed))), s"$name personalizedPageRank")
      }
    }
  }

  test("hits on degenerate inputs equals the L1-normalized brute force") {
    for ((name, es) <- inputs) {
      val got = Graph.hits(df(es), 3).collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val want = bruteHits(es, 3)
      assert(got.keySet == want.keySet, name)
      want.foreach { case (v, (h, a)) =>
        assert(math.abs(got(v)._1 - h) <= 1e-12 && math.abs(got(v)._2 - a) <= 1e-12,
          s"$name: node $v ${got(v)} != ($h, $a)")
      }
    }
  }

  test("k-core peels on degenerate inputs equal the brute-force peel") {
    for ((name, es) <- inputs; k <- Seq(1, 2)) {
      val g = df(es)
      assert(longs(Graph.kCoreAlive(g, k, rounds = 2)) == brutePeel(es, k, 2, false)._1,
        s"$name kCoreAlive k=$k")
      val fix = Graph.kCoreFixpoint(g, k, maxRounds = 6)
      val (core, counts, converged) = brutePeel(es, k, 6, true)
      assert(longs(fix.core) == core, s"$name kCoreFixpoint k=$k core")
      assert(fix.aliveCounts == counts && fix.converged == converged,
        s"$name kCoreFixpoint k=$k: ${fix.aliveCounts} ${fix.converged}")
    }
  }

  test("label propagation on degenerate inputs equals the brute-force LPA") {
    for ((name, es) <- inputs) {
      val g = df(es)
      assert(longs(Graph.labelPropagation(g, rounds = 3)) == bruteLpa(es, 3, false)._1,
        s"$name labelPropagation")
      val conv = Graph.labelPropagationConverged(g, maxRounds = 6)
      val (lbl, changes, converged) = bruteLpa(es, 6, true)
      assert(longs(conv.labels) == lbl, s"$name labelPropagationConverged labels")
      assert(conv.changesPerRound == changes && conv.converged == converged,
        s"$name: ${conv.changesPerRound} ${conv.converged}")
    }
    // the 2-cycle never settles: the budget runs out unconverged
    val osc = Graph.labelPropagationConverged(df(oscillating), maxRounds = 6)
    assert(!osc.converged && osc.changesPerRound.forall(_ > 0), osc.changesPerRound)
  }

  test("non-positive parameters are rejected by a require naming the parameter") {
    val g = df(Seq(e(1, 2), e(2, 1)))
    rejects(Graph.pageRank(g, -1), "iters")
    rejects(Graph.pageRankDangling(g, -1), "iters")
    rejects(Graph.personalizedPageRank(g, Seq(1L).toDF("node"), -1), "iters")
    rejects(Graph.hits(g, -1), "iters")
    rejects(Graph.hits(g, 0), "iters")
    rejects(Graph.kCoreAlive(g, 2, rounds = 0), "rounds")
    rejects(Graph.labelPropagation(g, rounds = 0), "rounds")
    rejects(Graph.kCoreFixpoint(g, 2, maxRounds = 0), "maxRounds")
    rejects(Graph.labelPropagationConverged(g, maxRounds = 0), "maxRounds")
    rejects(Graph.pageRankConverged(g, 1e-6, maxIters = 0), "maxIters")
    rejects(Graph.kCoreAlive(g, 0, rounds = 2), "k must")
    rejects(Graph.kCoreFixpoint(g, 0), "k must")
    for (d <- Seq(-0.1, 1.1, Double.NaN)) {
      rejects(Graph.pageRank(g, 1, d), "damping")
      rejects(Graph.pageRankDangling(g, 1, d), "damping")
      rejects(Graph.pageRankConverged(g, 1e-6, damping = d), "damping")
      rejects(Graph.personalizedPageRank(g, Seq(1L).toDF("node"), 1, d), "damping")
    }
    rejects(Graph.pageRankConverged(g, 0.0), "tol")
    rejects(Graph.pageRankConverged(g, -1e-3), "tol")
    rejects(Graph.personalizedPageRank(g, Seq(7L, 8L).toDF("node"), 1), "seeds")
  }
}
