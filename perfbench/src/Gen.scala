package perfbench

import java.util.SplittableRandom

/**
 * Seeded input generators. Every generator is a pure function of its seed
 * and size parameters: the same seed gives byte-identical inputs, so a
 * benchmark run is reproducible and two commits see the same data.
 *
 * Where the work a workload does depends on a statistic of its input (the
 * cluster sizes behind the IVF lists, the number of planted duplicates
 * behind the dedup stages), that statistic is fixed by the size parameters
 * and the seed only decides WHICH ids carry it. Different seeds therefore
 * give different data with about the same amount of work, which keeps
 * run-to-run spread a property of the program.
 */
object Gen {

  /** A COO matrix: cell i is (vecs(ys(i)), coords(xs(i)), vals(i)). */
  final case class Coo(vecIds: Array[String], coordIds: Array[String],
      ys: Array[Int], xs: Array[Int], vals: Array[Double]) {
    def cells: Int = ys.length
  }

  /** One synthetic document. `cluster` >= 0 marks a planted near-dup
    * cluster; `source` is "web" or "eval". */
  final case class Doc(id: Long, text: String, source: String, cluster: Int)

  final case class Corpus(docs: Array[Doc], props: Seq[(String, Double)])

  private def pad(prefix: String, i: Int, width: Int): String = {
    val s = i.toString
    prefix + ("0" * math.max(0, width - s.length)) + s
  }

  /** Fisher-Yates permutation of 0 until n. */
  def permutation(n: Int, rnd: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  /** `k` distinct values of 0 until n (Floyd's algorithm), unsorted. */
  def sample(n: Int, k: Int, rnd: SplittableRandom): Array[Int] = {
    require(k <= n)
    val chosen = new java.util.HashSet[Integer](k * 2)
    val out = new Array[Int](k)
    var filled = 0
    var j = n - k
    while (j < n) {
      val t = rnd.nextInt(j + 1)
      val pick = if (chosen.contains(t)) j else t
      chosen.add(pick)
      out(filled) = pick
      filled += 1
      j += 1
    }
    out
  }

  /**
   * Clustered supplier matrix (the cosine-ivf input), built the way graft's
   * clustered fixture (`EntryUtil.clusteredSupplierMatrix`) builds its own
   * from TPC-H line items. There are `nSupp` suppliers and 20 parts per
   * supplier; part p is sold by the four suppliers TPC-H's rule assigns it,
   * (p + i * (S/4 + (p - 1) / S)) mod S + 1 for i in 0..3. Each of
   * `items` × `nSupp` line items draws a uniform part, one of its four
   * suppliers and a quantity uniform in 1..50. Supplier s is vector s; its
   * coordinate is the block `s mod nClusters` and, inside it, the part
   * number mod `blockCoords`; the cell value sums the quantities. Vectors
   * of different clusters share no coordinate (cosine 0). Vector ids are
   * a seeded permutation of the suppliers, so the seed changes which ids
   * the id-ordered tie-breaks see as well as the quantities.
   */
  def supplierMatrix(seed: Long, nSupp: Int, nClusters: Int, blockCoords: Int, items: Int): Coo = {
    val rnd = new SplittableRandom(seed)
    val nParts = 20L * nSupp
    val qty = new Array[Double](nSupp * blockCoords)
    var n = 0L
    while (n < items.toLong * nSupp) {
      val p = 1 + (rnd.nextDouble() * nParts).toLong
      val i = rnd.nextInt(4)
      val s = ((p + i * (nSupp / 4 + (p - 1) / nSupp)) % nSupp).toInt // supplier key - 1
      qty(s * blockCoords + (p % blockCoords).toInt) += 1 + rnd.nextInt(50)
      n += 1
    }
    val idOf = permutation(nSupp, rnd)
    val ys = Array.newBuilder[Int]
    val xs = Array.newBuilder[Int]
    val vals = Array.newBuilder[Double]
    for (s <- 0 until nSupp; c <- 0 until blockCoords if qty(s * blockCoords + c) > 0) {
      ys += idOf(s); xs += ((s + 1) % nClusters) * blockCoords + c; vals += qty(s * blockCoords + c)
    }
    Coo(Array.tabulate(nSupp)(pad("v", _, 6)),
      Array.tabulate(nClusters * blockCoords)(x => pad("c", (x / blockCoords) * 1000 + x % blockCoords, 6)),
      ys.result(), xs.result(), vals.result())
  }

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => math.pow(r + 1.0, -s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }

  def zipfDraw(cdf: Array[Double], rnd: SplittableRandom): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** Matrix statistics the cosine workloads' cost depends on. */
  def cooProps(m: Coo): Seq[(String, Double)] = {
    val df = new Array[Long](m.coordIds.length)
    m.xs.foreach(x => df(x) += 1)
    val vecs = m.ys.distinct.length
    Seq(
      "vectors" -> vecs.toDouble,
      "cells" -> m.cells.toDouble,
      "coords" -> df.count(_ > 0).toDouble,
      "max_df" -> df.max.toDouble,
      "aligned_rows" -> df.map(d => d * (d - 1) / 2).sum.toDouble,
      "dense_pairs" -> (vecs.toDouble * (vecs - 1) / 2))
  }

  // ---------------------------------------------------------------- corpus

  /** Marker tokens the quality gate counts as stopwords. */
  val Stopwords: Array[String] = Array("the", "a", "of", "and", "to")

  private val Syllables: Array[String] = {
    val cs = "bdfgklmnprstvz"
    val vs = "aeiou"
    for (c <- cs.toArray; v <- vs.toArray) yield s"$c$v"
  }

  /** Word `i` of the synthetic vocabulary: 2-4 syllables, seed-independent,
    * never a stopword. */
  def word(i: Int): String = {
    val n = Syllables.length
    val sb = new StringBuilder
    var x = i
    sb.append(Syllables(x % n)); x /= n
    sb.append(Syllables(x % n)); x /= n
    while (x > 0) { sb.append(Syllables(x % n)); x /= n }
    sb.toString
  }

  final case class CorpusSpec(docs: Int, vocab: Int, zipfS: Double,
      minLen: Int, maxLen: Int, stopRate: Double,
      dupBaseRate: Double, maxCopies: Int, editRate: Double,
      boilerRate: Double, evalRate: Double, contamRate: Double,
      shortRate: Double, repetitiveRate: Double)

  /**
   * Synthetic training corpus with planted structure:
   *  - Zipf vocabulary, stopwords at `stopRate`;
   *  - near-dup clusters: a `dupBaseRate` share of base documents gets 1 to
   *    `maxCopies` copies with an `editRate` share of tokens substituted;
   *  - a fixed boilerplate suffix on a `boilerRate` share of documents;
   *  - an eval slice (`evalRate`) and train documents that embed a span of
   *    an eval document (`contamRate`);
   *  - low-quality documents: too short (`shortRate`) or one repeated
   *    token (`repetitiveRate`).
   * Near-dup clusters are built only from good, uncontaminated train
   * documents, so their removal is the dedup stage's doing.
   */
  def corpus(seed: Long, sp: CorpusSpec): Corpus = {
    val rnd = new SplittableRandom(seed)
    val cdf = zipfCdf(sp.vocab, sp.zipfS)
    val wordOfRank = permutation(sp.vocab, rnd).map(word)
    val boiler = Array.fill(12)(wordOfRank(sp.vocab / 2 + rnd.nextInt(sp.vocab / 2)))
    def token(): String =
      if (rnd.nextDouble() < sp.stopRate) Stopwords(rnd.nextInt(Stopwords.length))
      else wordOfRank(zipfDraw(cdf, rnd))
    def body(len: Int): Array[String] = Array.fill(len)(token())

    val nEval = math.round(sp.docs * sp.evalRate).toInt
    val nShort = math.round(sp.docs * sp.shortRate).toInt
    val nRep = math.round(sp.docs * sp.repetitiveRate).toInt
    val nContam = math.round(sp.docs * sp.contamRate).toInt
    val nBases = math.round(sp.docs * sp.dupBaseRate).toInt
    // copies per base cycle 1..maxCopies, so the copy count is seed-independent
    val copies = Array.tabulate(nBases)(b => 1 + b % sp.maxCopies)
    val nCopies = copies.sum
    val nPlain = sp.docs - nEval - nShort - nRep - nContam - nBases - nCopies
    require(nPlain > 0, "corpus spec leaves no plain documents")

    val texts = Array.newBuilder[(Array[String], String, Int)]
    val evalDocs = Array.fill(nEval)(body(sp.minLen + rnd.nextInt(sp.maxLen - sp.minLen + 1)))
    evalDocs.foreach(t => texts += ((t, "eval", -1)))
    for (_ <- 0 until nShort) texts += ((body(3 + rnd.nextInt(6)), "web", -1))
    for (_ <- 0 until nRep) {
      val w = wordOfRank(rnd.nextInt(sp.vocab))
      texts += ((Array.fill(sp.minLen + rnd.nextInt(sp.maxLen - sp.minLen + 1))(w), "web", -1))
    }
    for (_ <- 0 until nContam) {
      val base = body(sp.minLen + rnd.nextInt(sp.maxLen - sp.minLen + 1))
      val ev = evalDocs(rnd.nextInt(nEval))
      val span = 8
      val from = rnd.nextInt(ev.length - span + 1)
      val at = rnd.nextInt(base.length + 1)
      texts += ((base.take(at) ++ ev.slice(from, from + span) ++ base.drop(at), "web", -1))
    }
    for (b <- 0 until nBases) {
      val base = body(sp.minLen + rnd.nextInt(sp.maxLen - sp.minLen + 1))
      texts += ((base, "web", b))
      for (_ <- 0 until copies(b)) {
        val c = base.clone()
        for (i <- c.indices if rnd.nextDouble() < sp.editRate) c(i) = token()
        texts += ((c, "web", b))
      }
    }
    for (_ <- 0 until nPlain)
      texts += ((body(sp.minLen + rnd.nextInt(sp.maxLen - sp.minLen + 1)), "web", -1))

    val all = texts.result()
    val ids = permutation(all.length, rnd)
    var nBoiler = 0
    val docs = all.indices.map { i =>
      val (t0, src, cl) = all(i)
      // boilerplate rides on plain web documents only: a suffix on a
      // planted duplicate would change its cluster's similarity structure
      val t = if (src == "web" && cl < 0 && rnd.nextDouble() < sp.boilerRate / (nPlain.toDouble / sp.docs)) {
        nBoiler += 1; t0 ++ boiler
      } else t0
      Doc(ids(i).toLong, t.mkString(" "), src, cl)
    }.sortBy(_.id).toArray
    val props = Seq(
      "docs" -> docs.length.toDouble,
      "tokens" -> docs.map(_.text.count(_ == ' ') + 1L).sum.toDouble,
      "dup_clusters" -> nBases.toDouble,
      "dup_docs" -> nCopies.toDouble,
      "dup_rate" -> nCopies.toDouble / docs.length,
      "boilerplate_rate" -> nBoiler.toDouble / docs.length,
      "eval_docs" -> nEval.toDouble,
      "contamination_rate" -> nContam.toDouble / docs.length,
      "low_quality_rate" -> (nShort + nRep).toDouble / docs.length)
    Corpus(docs, props)
  }
}
