package perfbench

import scala.collection.mutable

/**
 * Plain-Scala brute force for every result the workloads check, and the
 * checkers that compare an engine result with it. Nothing here touches
 * Spark, so the checkers can be tested on hand-perturbed results.
 *
 * Cosine values are compared at the engine's 1e-6 snap: two values agree
 * when their snapped forms differ by at most one grid step (summation
 * order can flip a value that sits on a rounding boundary).
 */
object Check {

  val Tol = 1e-6 + 1e-9

  def snap(x: Double): Double = math.floor(x * 1e6 + 0.50001) / 1e6

  def close(a: Double, b: Double): Boolean = math.abs(snap(a) - snap(b)) <= Tol

  /** A max-normalized matrix, one sorted sparse row per vector. */
  final class Ref(m: Gen.Coo) {
    val nVec: Int = m.vecIds.length
    private val vecIndex: Map[String, Int] = m.vecIds.zipWithIndex.toMap
    val idx: Array[Array[Int]] = Array.ofDim[Array[Int]](nVec)
    val nv: Array[Array[Double]] = Array.ofDim[Array[Double]](nVec)
    locally {
      val rows = Array.fill(nVec)(mutable.ArrayBuffer.empty[(Int, Double)])
      for (i <- 0 until m.cells) rows(m.ys(i)) += ((m.xs(i), m.vals(i)))
      for (v <- 0 until nVec) {
        val r = rows(v).sortBy(_._1)
        val mx = if (r.isEmpty) 1.0 else r.map(_._2).max
        idx(v) = r.map(_._1).toArray
        nv(v) = r.map(_._2 / mx).toArray
      }
    }
    val norm: Array[Double] = nv.map(a => math.sqrt(a.map(x => x * x).sum))
    val present: Array[Boolean] = idx.map(_.nonEmpty)

    def id(v: Int): String = m.vecIds(v)
    def index(s: String): Int = vecIndex.getOrElse(s, -1)

    def dot(a: Int, b: Int): Double = {
      val ia = idx(a); val ib = idx(b); val va = nv(a); val vb = nv(b)
      var i = 0; var j = 0; var d = 0.0
      while (i < ia.length && j < ib.length) {
        if (ia(i) < ib(j)) i += 1
        else if (ia(i) > ib(j)) j += 1
        else { d += va(i) * vb(j); i += 1; j += 1 }
      }
      d
    }

    def denseCos(a: Int, b: Int): Double =
      if (norm(a) == 0 || norm(b) == 0) 0.0 else dot(a, b) / (norm(a) * norm(b))

    /** The vectors holding each coordinate. */
    private lazy val holders: Map[Int, Array[Int]] =
      (0 until nVec).flatMap(v => idx(v).map(_ -> v)).groupBy(_._1).map { case (x, vs) => x -> vs.map(_._2).toArray }
    private lazy val byId: Array[Int] = (0 until nVec).filter(present).sortBy(id).toArray

    /** Dense top-k neighbors of v, ranked by (snapped cosine desc, id asc).
      * Only vectors sharing a coordinate with v can score above 0; when
      * fewer than k do, the rest of the list is 0-similarity vectors in id
      * order, as a scan over every vector would rank them. */
    def topK(v: Int, k: Int): Seq[(String, Double)] = {
      val shared = idx(v).iterator.flatMap(holders(_)).filter(_ != v).toSeq.distinct
      val pos = shared.map(u => (id(u), snap(denseCos(v, u)))).filter(_._2 > 0)
        .sortBy { case (u, s) => (-s, u) }
      if (pos.size >= k) pos.take(k)
      else {
        val taken = pos.map(_._1).toSet
        pos ++ byId.iterator.filter(u => u != v && !taken(id(u))).take(k - pos.size).map(u => (id(u), 0.0))
      }
    }
  }

  /** Accumulates named failures; a run is correct when none were added. */
  final class Report {
    val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
    def expect(ok: Boolean, what: => String): Unit =
      if (!ok && failures.size <= 50) failures += (if (failures.size < 50) what else "...")
    def ok: Boolean = failures.isEmpty
  }

  /** One vector's ranked top-k rows (rank, neighbor, s) from an
    * approximate index: at most k distinct neighbors, ranks 1..n, each
    * similarity the exact dense cosine, in (similarity desc, id asc) order.
    * Which neighbors it found is the recall's business. */
  def topKRows(ref: Ref, v: Int, k: Int, rows: Seq[(Long, String, Double)], r: Report): Unit = {
    val who = ref.id(v)
    val sorted = rows.sortBy(_._1)
    r.expect(sorted.map(_._1) == (1L to sorted.size.toLong), s"top-k ranks of $who not 1..n")
    r.expect(sorted.size <= k, s"top-k of $who has ${sorted.size} > $k rows")
    r.expect(sorted.map(_._2).distinct.size == sorted.size && !sorted.exists(_._2 == who),
      s"top-k of $who repeats a neighbor or lists itself")
    for ((_, u, s) <- sorted) {
      val iu = ref.index(u)
      r.expect(iu >= 0 && close(s, ref.denseCos(v, iu)),
        s"top-k cos($who,$u) = $s, brute force ${if (iu >= 0) ref.denseCos(v, iu) else Double.NaN}")
    }
    for (Seq(a, b) <- sorted.sliding(2) if sorted.size > 1)
      r.expect(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
        s"top-k of $who out of (similarity desc, id asc) order at rank ${b._1}")
  }

  /** Share of the brute-force top-k neighbors an approximate list found. */
  def recall(ref: Ref, v: Int, k: Int, neighbors: Seq[String]): Double = {
    val want = ref.topK(v, k).map(_._1)
    if (want.isEmpty) 1.0 else want.count(neighbors.toSet).toDouble / want.size
  }

  // ---------------------------------------------------------------- corpus

  def tokens(text: String): Array[String] = text.split("\\s+").filter(_.nonEmpty)

  def trigrams(t: Array[String]): Iterator[String] =
    t.sliding(3).filter(_.length == 3).map(_.mkString(" "))

  /** The quality gate's default bounds (Pipelines.cleanCorpus defaults). */
  def qualityPass(t: Array[String]): Boolean = {
    val n = t.length
    if (n == 0) false
    else {
      val avg = t.map(_.length.toLong).sum.toDouble / n
      val stop = t.count(Gen.Stopwords.contains).toDouble / n
      val ttr = t.distinct.length.toDouble / n
      n >= 10 && n <= 100000 && avg >= 2.0 && avg <= 12.0 && stop <= 0.6 && ttr >= 0.2
    }
  }

  /** Clean-corpus survivors (doc_id, n_tokens): train only, inside the
    * quality bounds, no word trigram shared with the eval slice, and not
    * an empty answer. Returns the dup recall: the share of planted
    * duplicates (cluster members beyond one) absent from the survivors. */
  def cleanCorpus(docs: Array[Gen.Doc], rows: Seq[(Long, Long)], r: Report): Double = {
    val byId = docs.map(d => d.id -> d).toMap
    val evalGrams = mutable.HashSet.empty[String]
    docs.iterator.filter(_.source == "eval").foreach(d => evalGrams ++= trigrams(tokens(d.text)))
    r.expect(rows.map(_._1).distinct.size == rows.size, "clean corpus repeats a doc_id")
    for ((id, n) <- rows) {
      byId.get(id) match {
        case None => r.expect(false, s"clean corpus returned unknown doc $id")
        case Some(d) =>
          val t = tokens(d.text)
          r.expect(d.source != "eval", s"clean corpus kept eval doc $id")
          r.expect(qualityPass(t), s"clean corpus kept doc $id outside the quality bounds")
          r.expect(n == t.length, s"clean corpus n_tokens($id) = $n, want ${t.length}")
          r.expect(!trigrams(t).exists(evalGrams), s"clean corpus kept doc $id sharing a trigram with eval")
      }
    }
    val eligible = docs.count(d => d.source != "eval" && qualityPass(tokens(d.text)) &&
      !trigrams(tokens(d.text)).exists(evalGrams))
    r.expect(rows.size * 2 >= eligible,
      s"clean corpus kept ${rows.size} docs, under half of the $eligible eligible ones")
    val kept = rows.map(_._1).toSet
    val clusters = docs.filter(_.cluster >= 0).groupBy(_.cluster)
    val planted = clusters.values.map(_.length - 1).sum
    val removed = clusters.values.map(m => m.length - math.max(1, m.count(d => kept(d.id)))).sum
    if (planted == 0) 1.0 else removed.toDouble / planted
  }
}
