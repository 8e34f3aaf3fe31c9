package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64

import graft.SparkSpec

/** The `Embeddings` k-means family on degenerate inputs: an empty table,
  * one vector, k above the vector count, all vectors identical (every
  * distance ties) and a zero vector (spherical k-means drops it). Each
  * operator's answer equals a plain-Scala brute force that snaps to the
  * same 1e-6 grid and breaks ties the same way; a bad parameter fails
  * with a `require` that names it; and an id on two rows is, as stated
  * on `Embeddings.centroidD2`, one vector holding both rows' cells. */
class EmbeddingsDegenerateSpec extends SparkSpec {
  implicit lazy val s: SparkSession = spark
  import s.implicits._

  private type Vecs = Seq[(Long, Array[Double])]

  private val Iters = 3
  private val SubDim = 2
  private val TopK = 2

  // ---- brute force -------------------------------------------------------

  private def snap(v: Double): Double = math.floor(v * 1e6 + 0.50001).toLong / 1e6

  private def d2(a: Array[Double], b: Array[Double]): Double =
    a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))

  /** The last round's codebook, its full score table (best first) and
    * the assignment: vector → (cid, score). */
  private case class Fit(cent: Map[Long, Array[Double]],
      dist: Map[Long, Seq[(Long, Double)]]) {
    def assign: Map[Long, (Long, Double)] = dist.map { case (v, ds) => v -> ds.head }
  }

  private def mean(members: Seq[Array[Double]]): Array[Double] =
    members.head.indices.map(i => members.map(_(i)).sum / members.size).toArray

  /** Lloyd as the engine runs it: seeds are the `k` smallest ids (cid =
    * rank); each round snaps every score and keeps the best by (score,
    * cid), squared L2 ascending or (spherical) dot descending; each
    * surviving centroid moves to its members' snapped mean, or to the
    * snapped mean direction, dropping a zero direction. */
  private def lloyd(vs: Vecs, k: Int, spherical: Boolean = false): Fit = {
    val byId = vs.toMap
    def score(cent: Map[Long, Array[Double]]) = vs.groupBy(_._1).map { case (v, rows) =>
      val ds = cent.toSeq.map { case (c, y) =>
        c -> snap(rows.map(r => if (spherical) dot(r._2, y) else d2(r._2, y)).sum)
      }
      v -> ds.sortBy { case (c, d) => (if (spherical) -d else d, c) }
    }
    def update(fit: Fit) = members(vs, fit).toSeq.flatMap { case (c, m) =>
      val n = math.sqrt(m.map(x => x * x).sum)
      if (!spherical) Some(c -> m.map(snap))
      else if (n > 0) Some(c -> m.map(x => snap(x / n)))
      else None
    }.toMap
    val seeds = vs.map(_._1).sorted.take(k)
    var fit = Fit(seeds.zipWithIndex.map { case (v, c) => c.toLong -> byId(v) }.toMap, Map())
    fit = fit.copy(dist = score(fit.cent))
    for (_ <- 2 to Iters) {
      val cent = update(fit)
      fit = Fit(cent, score(cent))
    }
    fit
  }

  /** Each cluster's unsnapped member mean, over every row of its ids. */
  private def members(vs: Vecs, fit: Fit): Map[Long, Array[Double]] =
    vs.groupBy { case (v, _) => fit.assign(v)._1 }
      .map { case (c, rows) => c -> mean(rows.map(_._2)) }

  /** The centroid update the final assignment trains (the fitted codebook). */
  private def codebook(vs: Vecs, fit: Fit): Map[Long, Array[Double]] =
    members(vs, fit).map { case (c, m) => c -> m.map(snap) }

  private def unit(vs: Vecs): Vecs = vs.flatMap { case (v, x) =>
    val n = math.sqrt(x.map(e => e * e).sum)
    if (n > 0) Some(v -> x.map(_ / n)) else None
  }

  /** One Lloyd fit per subspace of `SubDim` coordinates. */
  private def pqFits(vs: Vecs, k: Int): Seq[Fit] =
    if (vs.isEmpty) Nil
    else (0 until vs.head._2.length / SubDim).map { sub =>
      lloyd(vs.map { case (v, x) => v -> x.slice(sub * SubDim, (sub + 1) * SubDim) }, k)
    }

  private def xxhash(v: Long): Long = XXH64.hashLong(v, 42L)

  private def pmodU(v: Long, round: Int): Double = {
    val h = XXH64.hashInt(round, xxhash(v))
    (((h % 1000000007L) + 1000000007L) % 1000000007L + 1.0) / 1000000008.0
  }

  private def minD2(vs: Vecs, chosen: Seq[Long]): Map[Long, Double] = {
    val byId = vs.toMap
    vs.map { case (v, x) => v -> chosen.map(c => d2(x, byId(c))).min }.toMap
  }

  private def kppSeeds(vs: Vecs, k: Int): Seq[Long] =
    if (vs.isEmpty) Nil
    else {
      var chosen = Seq(vs.map(_._1).minBy(v => (xxhash(v), v)))
      var round = 1
      while (round < k && chosen.size < vs.size) {
        val w = minD2(vs, chosen)
        chosen :+= w.keys.filterNot(chosen.contains).toSeq.maxBy { v =>
          val key = if (w(v) <= 0) Double.NegativeInfinity else math.log(pmodU(v, round)) / w(v)
          (key, -v)
        }
        round += 1
      }
      chosen
    }

  /** k-means‖ as the engine draws it: the candidate SET, and the seeds in
    * cid order when the driver-side weighted k-means++ recondenses it
    * (more candidates than k). */
  private def parallelSeeds(vs: Vecs, k: Int): (Set[Long], Option[Seq[Long]]) =
    if (vs.isEmpty) (Set(), Some(Nil))
    else {
      val byId = vs.toMap
      val l = 2 * k
      var cand = Seq(vs.map(_._1).minBy(v => (xxhash(v), v)))
      var round = 1
      var saturated = false
      while (round <= 5 && !saturated) {
        val w = minD2(vs, cand)
        val phi = w.values.sum
        if (phi <= 0) saturated = true
        else cand ++= w.keys.filter(v => !cand.contains(v) &&
          pmodU(v, round) < math.min(1.0, w(v) * (l.toDouble / phi))).toSeq.sorted
        round += 1
      }
      if (cand.size <= k) (cand.toSet, None)
      else {
        val weights = vs.groupBy { case (_, x) =>
          cand.minBy(c => (d2(x, byId(c)), c))
        }.map { case (c, ms) => c -> ms.size.toDouble }
        def u(v: Long, r: Int): Double = {
          val h = scala.util.hashing.MurmurHash3.stringHash(s"$v#$r")
          ((h & 0x7fffffff).toDouble + 1.0) / (Int.MaxValue.toDouble + 2.0)
        }
        def wOf(v: Long) = weights.getOrElse(v, 1.0)
        var chosen = Seq(cand.maxBy(v => (math.log(u(v, 0)) / wOf(v), v.toString)))
        var r = 1
        while (chosen.size < k) {
          val left = cand.filterNot(chosen.contains)
          chosen :+= left.maxBy { v =>
            val w = wOf(v) * chosen.map(c => d2(byId(v), byId(c))).min
            (if (w <= 0) Double.NegativeInfinity else math.log(u(v, r)) / w, v.toString)
          }
          r += 1
        }
        (chosen.toSet, Some(chosen))
      }
    }

  private def kCenter(vs: Vecs, k: Int): Map[Long, (Long, Double)] =
    if (vs.isEmpty) Map()
    else {
      var chosen = Seq(vs.map(_._1).min -> 0.0)
      while (chosen.size < k && chosen.size < vs.size) {
        val w = minD2(vs, chosen.map(_._1))
        val next = w.keys.filterNot(chosen.map(_._1).contains).toSeq
          .maxBy(v => (snap(w(v)), -v))
        chosen :+= next -> snap(w(next))
      }
      chosen.zipWithIndex.map { case ((v, d), r) => v -> (r.toLong, d) }.toMap
    }

  // ---- inputs ------------------------------------------------------------

  /** (name, vectors, k): every vector is 4-dimensional, label = id mod 2. */
  private val inputs: Seq[(String, Seq[(Long, Seq[Float])], Int)] = Seq(
    ("empty input", Nil, 2),
    ("one vector", Seq(7L -> Seq(1f, 2f, 0f, 4f)), 2),
    ("k above the vector count", Seq(0L -> Seq(0f, 0f, 1f, 1f),
      1L -> Seq(4f, 0f, 2f, 2f), 2L -> Seq(1f, 3f, 0f, 0f)), 5),
    ("all vectors identical", (0L until 4L).map(_ -> Seq(2f, 1f, 0f, 1f)), 2),
    ("a zero vector", Seq(0L -> Seq(0f, 0f, 0f, 0f), 1L -> Seq(1f, 0f, 2f, 0f),
      2L -> Seq(0f, 3f, 0f, 1f), 3L -> Seq(2f, 2f, 2f, 2f),
      4L -> Seq(1f, 1f, 0f, 4f)), 2))

  private def frame(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.map { case (v, x) => (v, x, (v % 2).toInt) }.toDF("vec_id", "embedding", "label")

  private def vecs(rows: Seq[(Long, Seq[Float])]): Vecs =
    rows.map { case (v, x) => v -> x.map(_.toDouble).toArray }

  private def long(r: Row, c: String): Long = r.getAs[Number](c).longValue

  private def pairs(m: Map[Long, Array[Double]]): Map[(Long, Int), Double] =
    m.toSeq.flatMap { case (c, y) => y.indices.map(i => (c, i) -> y(i)) }.toMap

  private def topK(scores: Map[Long, Seq[(Long, Double)]], n: Int)
      : Map[(Long, Long), (Long, Double)] =
    scores.toSeq.flatMap { case (q, ds) =>
      ds.take(n).zipWithIndex.map { case ((v, d), r) => (q, r + 1L) -> (v, d) }
    }.toMap

  // ---- the table ---------------------------------------------------------

  for ((name, rows, k) <- inputs) {
    lazy val df = frame(rows)
    lazy val vs = vecs(rows)

    test(s"kMeansAssign, kMeansCentroids and silhouette, $name: brute-force Lloyd") {
      val fit = lloyd(vs, k)
      val got = Embeddings.kMeansAssign(df, "vec_id", "embedding", k, Iters).collect()
        .map(r => long(r, "vec_id") -> (long(r, "cluster"), r.getAs[Double]("dist2"))).toMap
      assert(got == fit.assign)
      val cent = Embeddings.kMeansCentroids(df, "vec_id", "embedding", k, Iters).collect()
        .map(r => (long(r, "cid"), r.getAs[Int]("i")) -> r.getAs[Double]("c")).toMap
      assert(cent == pairs(codebook(vs, fit)))
      val sil = Embeddings.silhouette(df, "vec_id", "embedding", k, Iters).collect()
        .map(r => long(r, "cluster") -> (long(r, "n_points"), r.getAs[Double]("mean_silhouette")))
        .toMap
      val want = fit.dist.values.toSeq.groupBy(_.head._1).map { case (c, dss) =>
        val ss = dss.map { ds =>
          val a = math.sqrt(ds.head._2)
          ds.lift(1).map(b2 => math.sqrt(b2._2)).fold(0.0) { b =>
            if (math.max(a, b) > 0) (b - a) / math.max(a, b) else 0.0
          }
        }
        c -> (ss.size.toLong, ss.sum / ss.size)
      }
      assert(sil.keySet == want.keySet)
      sil.foreach { case (c, (n, m)) =>
        assert(n == want(c)._1)
        assertApprox(m, want(c)._2)
      }
    }

    test(s"sphericalKMeansAssign, $name: brute-force spherical Lloyd, zero vectors dropped") {
      val want = lloyd(unit(vs), k, spherical = true).assign
      val got = Embeddings.sphericalKMeansAssign(df, "vec_id", "embedding", k, Iters)
        .collect()
        .map(r => long(r, "vec_id") -> (long(r, "cluster"), r.getAs[Double]("cosine"))).toMap
      assert(got == want)
    }

    test(s"pqAssign and pqTopK, $name: brute-force Lloyd per subspace") {
      val fits = pqFits(vs, k)
      val codes = Embeddings.pqAssign(df, "vec_id", "embedding", k, Iters, SubDim).collect()
        .map(r => (long(r, "vec_id"), long(r, "s")) -> (long(r, "code"), r.getAs[Double]("dist2")))
        .toMap
      assert(codes == fits.zipWithIndex.flatMap { case (f, sub) =>
        f.assign.map { case (v, a) => (v, sub.toLong) -> a }
      }.toMap)
      val adist = vs.map { case (q, x) =>
        q -> vs.filter(_._1 != q).map { case (v, _) =>
          v -> snap(fits.zipWithIndex.map { case (f, sub) =>
            snap(d2(x.slice(sub * SubDim, (sub + 1) * SubDim), f.cent(f.assign(v)._1)))
          }.sum)
        }.sortBy { case (v, d) => (d, v) }
      }.toMap
      val got = Embeddings.pqTopK(df, df, "vec_id", "embedding", TopK, k, Iters, SubDim)
        .collect()
        .map(r => (long(r, "query_id"), long(r, "rank")) ->
          (long(r, "vec_id"), r.getAs[Double]("adist"))).toMap
      assert(got == topK(adist, TopK))
    }

    test(s"ivfKMeansTopK, $name: brute-force lists, probes and cosines (0 for a zero vector)") {
      val cent = codebook(vs, lloyd(vs, k))
      def byDist(x: Array[Double]) =
        cent.toSeq.map { case (c, y) => c -> snap(d2(x, y)) }.sortBy { case (c, d) => (d, c) }
      val list = vs.map { case (v, x) => v -> byDist(x).head._1 }.toMap
      def norm(x: Array[Double]) = math.sqrt(dot(x, x))
      val scores = vs.map { case (q, x) =>
        val probed = byDist(x).take(2).map(_._1).toSet
        q -> vs.filter { case (v, _) => v != q && probed(list(v)) }.map { case (v, y) =>
          v -> (if (norm(x) == 0 || norm(y) == 0) 0.0 else snap(dot(x, y) / (norm(x) * norm(y))))
        }.sortBy { case (v, c) => (-c, v) }
      }.toMap
      val got = Embeddings.ivfKMeansTopK(df, df, "vec_id", "embedding", TopK,
          kClusters = k, iters = Iters, nprobe = 2)
        .collect()
        .map(r => (long(r, "query_id"), long(r, "rank")) ->
          (long(r, "vec_id"), r.getAs[Double]("cosine"))).toMap
      assert(got == topK(scores, TopK))
    }

    test(s"kMeansPlusPlusSeeds, kMeansParallelSeeds and kCenterSample, $name: brute-force draws") {
      val kpp = Embeddings.kMeansPlusPlusSeeds(df, "vec_id", "embedding", k).collect()
        .map(r => long(r, "vec_id") -> long(r, "cid")).toMap
      assert(kpp == kppSeeds(vs, k).zipWithIndex.map { case (v, c) => v -> c.toLong }.toMap)
      val par = Embeddings.kMeansParallelSeeds(df, "vec_id", "embedding", k).collect()
        .map(r => long(r, "vec_id") -> long(r, "cid")).toMap
      val (set, order) = parallelSeeds(vs, k)
      assert(par.keySet == set)
      assert(par.values.toSet == set.toSeq.indices.map(_.toLong).toSet)
      order.foreach(o => assert(par == o.zipWithIndex.map { case (v, c) => v -> c.toLong }.toMap))
      val kc = Embeddings.kCenterSample(df, "vec_id", "embedding", k).collect()
        .map(r => long(r, "vec_id") -> (long(r, "rank"), r.getAs[Double]("d2"))).toMap
      assert(kc == kCenter(vs, k))
    }

    test(s"prototypeAssign, $name: brute-force nearest class mean") {
      val labels = vs.map { case (v, _) => v -> (v % 2).toInt }.toMap
      val cent = vs.groupBy { case (v, _) => labels(v) }
        .map { case (g, ms) => g -> mean(ms.map(_._2)).map(snap) }
      val want = vs.map { case (v, x) =>
        val (g, d) = cent.toSeq.map { case (g, y) => g -> snap(d2(x, y)) }
          .minBy { case (g, d) => (d, g) }
        v -> (labels(v), g, d)
      }.toMap
      val got = Embeddings.prototypeAssign(df, "vec_id", "embedding", "label").collect()
        .map(r => long(r, "vec_id") -> (r.getAs[Int]("grp"), r.getAs[Int]("pred"),
          r.getAs[Double]("d2"))).toMap
      assert(got == want)
    }
  }

  // ---- duplicate ids ----------------------------------------------------

  test("an id on two rows is one vector holding both rows' cells") {
    // vec_id 3 twice (both labelled 1, neither a seed at k = 2): every d²
    // over id 3 sums both rows' terms and its cells join both centroid
    // updates; kMeansAssign answers it once, prototypeAssign per row
    val rows = Seq(0L -> Seq(0f, 0f, 1f, 1f), 1L -> Seq(4f, 0f, 2f, 2f),
      2L -> Seq(1f, 3f, 0f, 0f), 3L -> Seq(2f, 2f, 2f, 2f), 3L -> Seq(1f, 1f, 0f, 4f))
    val (dup, vs) = (frame(rows), vecs(rows))
    val fit = lloyd(vs, 2)
    val got = Embeddings.kMeansAssign(dup, "vec_id", "embedding", 2, Iters).collect()
      .map(r => long(r, "vec_id") -> (long(r, "cluster"), r.getAs[Double]("dist2")))
    assert(got.length == 4)
    assert(got.toMap == fit.assign)
    val cent = Embeddings.kMeansCentroids(dup, "vec_id", "embedding", 2, Iters).collect()
      .map(r => (long(r, "cid"), r.getAs[Int]("i")) -> r.getAs[Double]("c")).toMap
    assert(cent == pairs(codebook(vs, fit)))
    val protos = vs.groupBy { case (v, _) => v % 2 }
      .map { case (g, ms) => g.toInt -> mean(ms.map(_._2)).map(snap) }
    val want = rows.map { case (v, _) =>
      val (g, d) = protos.toSeq.map { case (g, y) =>
        g -> snap(vs.filter(_._1 == v).map(r => d2(r._2, y)).sum)
      }.minBy { case (g, d) => (d, g) }
      (v, (v % 2).toInt, g, d)
    }.sorted
    val proto = Embeddings.prototypeAssign(dup, "vec_id", "embedding", "label").collect()
      .map(r => (long(r, "vec_id"), r.getAs[Int]("grp"), r.getAs[Int]("pred"),
        r.getAs[Double]("d2"))).toSeq.sorted
    assert(proto == want)
  }

  // ---- parameters --------------------------------------------------------

  private def assertRejects(param: String)(call: => Any): Unit = {
    val e = intercept[IllegalArgumentException](call)
    assert(e.getMessage.startsWith(s"requirement failed: $param "),
      s"message '${e.getMessage}' does not name $param")
  }

  test("non-positive parameters fail with a require naming the parameter") {
    val df = frame(inputs(2)._2)
    assertRejects("k")(Embeddings.kMeansAssign(df, "vec_id", "embedding", 0, Iters))
    assertRejects("k")(Embeddings.kMeansCentroids(df, "vec_id", "embedding", 0, Iters))
    assertRejects("k")(Embeddings.silhouette(df, "vec_id", "embedding", 1, Iters))
    assertRejects("k")(Embeddings.sphericalKMeansAssign(df, "vec_id", "embedding", 0, Iters))
    assertRejects("k")(Embeddings.pqAssign(df, "vec_id", "embedding", 0, Iters, SubDim))
    assertRejects("k")(Embeddings.pqTopK(df, df, "vec_id", "embedding", TopK, 0, Iters, SubDim))
    assertRejects("k")(Embeddings.kMeansPlusPlusSeeds(df, "vec_id", "embedding", 0))
    assertRejects("k")(Embeddings.kMeansParallelSeeds(df, "vec_id", "embedding", 0))
    assertRejects("k")(Embeddings.kCenterSample(df, "vec_id", "embedding", 0))
    assertRejects("k")(Embeddings.ivfKMeansTopK(df, df, "vec_id", "embedding", 0))
    assertRejects("k")(Embeddings.ivfIndexTopK(spark, "no-index", df, "vec_id", "embedding", 0))
    assertRejects("k")(Embeddings.ivfParetoSweep(df, df, "vec_id", "embedding", 0))
    assertRejects("k")(Embeddings.annRoute(df, "vec_id", "embedding", 0, Iters, 8L))
    assertRejects("iters")(Embeddings.kMeansAssign(df, "vec_id", "embedding", 2, 0))
    assertRejects("iters")(Embeddings.sphericalKMeansAssign(df, "vec_id", "embedding", 2, 0))
    assertRejects("iters")(Embeddings.pqAssign(df, "vec_id", "embedding", 2, 0, SubDim))
    assertRejects("iters")(Embeddings.annRoute(df, "vec_id", "embedding", 2, 0, 8L))
    assertRejects("iters")(Embeddings.ivfKMeansTopK(df, df, "vec_id", "embedding", TopK,
      iters = 0))
    assertRejects("subDim")(Embeddings.pqAssign(df, "vec_id", "embedding", 2, Iters, 0))
    assertRejects("subDim")(Embeddings.pqTopK(df, df, "vec_id", "embedding", TopK, 2, Iters, 0))
    assertRejects("nprobe")(Embeddings.ivfKMeansTopK(df, df, "vec_id", "embedding", TopK,
      nprobe = 0))
    assertRejects("nprobe")(Embeddings.ivfIndexTopK(spark, "no-index", df, "vec_id",
      "embedding", TopK, nprobe = 0))
    assertRejects("maxNprobe")(Embeddings.ivfParetoSweep(df, df, "vec_id", "embedding", TopK,
      maxNprobe = 0))
    assertRejects("rounds")(Embeddings.kMeansParallelSeeds(df, "vec_id", "embedding", 2,
      rounds = 0))
    assertRejects("kClusters")(Embeddings.ivfKMeansTopK(df, df, "vec_id", "embedding", TopK,
      kClusters = 0))
    assertRejects("kClusters")(Embeddings.saveIvfIndex(df, "vec_id", "embedding", 0, Iters,
      "no-index"))
    assertRejects("budgetPerVec")(Embeddings.annRoute(df, "vec_id", "embedding", 2, Iters, 0L))
    assertRejects("k")(Embeddings.pcaComponents(df, "vec_id", "embedding", 0))
    assertRejects("iters")(Embeddings.pcaComponents(df, "vec_id", "embedding", 1, iters = 0))
  }
}
