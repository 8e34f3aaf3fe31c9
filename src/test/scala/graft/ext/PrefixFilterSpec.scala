package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/**
 * Prefix-filtering exact similarity join ([[Dedup.prefixCandidates]],
 * [[Dedup.prefixJaccardDups]]): the lossless sub-quadratic route whose
 * whole value is a PROOF obligation — candidates must be a superset of
 * every pair at the threshold, while staying far below the exhaustive
 * shared-shingle kernel's pair surface.
 *
 * Three angles: (1) end-to-end equality with the exhaustive kernel on a
 * corpus with planted near-dups; (2) the completeness lemma
 * property-tested over random set systems fed straight into the
 * candidate generator (no text layer — the lemma is about sets); (3) the
 * boilerplate-shingle regime: one shingle in every document explodes the
 * full kernel to ⊇ C(N,2) while the prefix filter, which sorts that
 * shingle to the END of the rarity order, keeps candidates bounded.
 */
class PrefixFilterSpec extends SparkSpec {
  implicit lazy val s: SparkSession = spark
  import s.implicits._

  private def word(t1: Char, t2: Char, w: Int, kind: Char) =
    s"$t1${kind.toString * (w + 1)}$t2"

  /** 12 near-dup pairs (30 shared + 8 private words each side → jaccard
    * well above 0.3) + 16 unrelated docs, token probes kept injective the
    * [[ContainmentSketchSpec]] way. */
  private lazy val corpus = {
    def t1(i: Int) = ('a' + i / 6).toChar
    def t2(i: Int) = ('a' + i % 6).toChar
    def shared(i: Int) = (0 until 30).map(word(t1(i), t2(i), _, 's'))
    def priv0(i: Int) = (0 until 8).map(word(t1(i), t2(i), _, 'p'))
    def priv1(i: Int) = (0 until 8).map(word(t1(i), t2(i), _, 'q'))
    val pairs = (0 until 12).flatMap { i =>
      Seq((2L * i, (shared(i) ++ priv0(i)).mkString(" ")),
        (2L * i + 1, (shared(i) ++ priv1(i)).mkString(" ")))
    }
    val loners = (0 until 16).map { i =>
      (100L + i, (0 until 25).map(word(t1(i), t2(i), _, 'z')).mkString(" "))
    }
    (pairs ++ loners).toDF("doc_id", "text")
  }

  test("prefix join is byte-identical to the exhaustive kernel") {
    val sh = Dedup.shingles(corpus, "doc_id", "text").localCheckpoint()
    val viaPrefix = Dedup.jaccardFor(Dedup.prefixCandidates(sh, 0.3), sh)
      .where(col("jaccard") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exhaustive = Dedup.jaccardPairs(sh)
      .where(col("jaccard") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaPrefix.keySet == exhaustive.keySet,
      s"missing: ${exhaustive.keySet -- viaPrefix.keySet}; " +
        s"extra: ${viaPrefix.keySet -- exhaustive.keySet}")
    viaPrefix.foreach { case (k, v) => assertApprox(v, exhaustive(k)) }
    assert(exhaustive.keySet == (0 until 12).map(i => (2L * i, 2L * i + 1)).toSet)
  }

  test("completeness lemma holds over random set systems") {
    // the lemma is about ordered sets, so test it where it lives: random
    // (doc_id, sh) set systems over a small universe (forced overlap),
    // exact jaccard computed independently in Scala
    val rnd = new scala.util.Random(20260814L)
    val universe = (1L to 60L).toVector
    val sets: Map[Long, Set[Long]] = (0L until 40L).map { d =>
      val size = 5 + rnd.nextInt(16)
      d -> rnd.shuffle(universe).take(size).toSet
    }.toMap
    val sh = sets.toSeq.flatMap { case (d, ss) => ss.map(d -> _) }
      .toDF("doc_id", "sh")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val cand = Dedup.prefixCandidates(sh, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for {
        a <- sets.keys; b <- sets.keys if a < b
        j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
        if j >= t
      } assert(cand.contains((a, b)),
        s"pair ($a,$b) with jaccard $j missing from candidates at t=$t")
    }
  }

  test("boilerplate shingle: full kernel ⊇ C(N,2), prefix candidates bounded") {
    // every doc gets one shared set element (the boilerplate) + 9 private
    // ones: jaccard per pair = 1/19, far below any threshold, yet the full
    // kernel must materialize all C(40,2) pairs through that one shingle
    val n = 40
    val sh = (0 until n).flatMap { d =>
      (0L +: (1L to 9L).map(_ + 10L * (d + 1))).map(d.toLong -> _)
    }.toDF("doc_id", "sh")
    val full = Dedup.jaccardPairs(sh).count()
    assert(full >= n.toLong * (n - 1) / 2)
    val cand = Dedup.prefixCandidates(sh, 0.3).count()
    // prefix length at t=0.3, n=10 is 10-3+1=8 rarest shingles: all 9
    // private ones outrank the df=40 boilerplate, so NO candidate shares
    // a prefix shingle at all
    assert(cand == 0L, s"expected empty candidate set, got $cand")
  }

  test("intersection-first verification equals pair-first row for row") {
    // jaccardForBySh (r10: the sfx10 disk-fill fix — overlaps from the
    // shingle-keyed self-join, candidates joined after) must agree with
    // jaccardFor on every candidate pair, including its drop-no-overlap
    // semantics, on both the LSH and the prefix candidate tables
    val sh = Dedup.shingles(corpus, "doc_id", "text").localCheckpoint()
    for (cands <- Seq(
        Dedup.prefixCandidates(sh, 0.3),
        Dedup.minHashCandidates(Dedup.minHashSignatures(sh)))) {
      val byPair = Dedup.jaccardFor(cands, sh)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .sortBy(_._1)
      val bySh = Dedup.jaccardForBySh(cands, sh)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .sortBy(_._1)
      assert(byPair.toSeq == bySh.toSeq)
      assert(byPair.nonEmpty)
      // the r12 regime gate must be semantics-free in BOTH forced modes
      // (auto, exercised above, picks one of them)
      for (forced <- Seq(true, false)) {
        val f = Dedup.jaccardForBySh(cands, sh, Some(forced))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
          .sortBy(_._1)
        assert(f.toSeq == byPair.toSeq, s"prune=$forced")
      }
    }
  }

  test("end-to-end prefixJaccardDups (intersection-first) still equals the exhaustive kernel") {
    val viaPrefix = Dedup.prefixJaccardDups(corpus, "doc_id", "text", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sh = Dedup.shingles(corpus, "doc_id", "text")
    val exhaustive = Dedup.jaccardPairs(sh)
      .where(col("jaccard") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaPrefix.keySet == exhaustive.keySet)
    viaPrefix.foreach { case (k, v) => assertApprox(v, exhaustive(k)) }
  }

  /** The df-headed shingle table of the heavy-split tests. Heavy head:
    * 3 shingles (900, 901, 902) in EVERY doc of a 40-doc chorus → df =
    * 44-ish, Σdf ≈ 40·13 + extras, so df² > Σdf fires. Planted pairs:
    *   - docs 0/1 share ONLY heavy shingles,
    *   - docs 2/3 share ONLY light shingles,
    *   - docs 4/5 share both,
    *   - docs 6/7 share nothing. */
  private lazy val plantedHead = {
    val chorus = (10 until 50).map { d =>
      d.toLong -> ((900L to 902L) ++ (1L to 10L).map(_ + 1000L * d))
    }
    val planted = Seq(
      0L -> ((900L to 902L) :+ 5000L),          // heavy-only overlap with 1
      1L -> ((900L to 902L) :+ 5001L),
      2L -> Seq(6000L, 6001L, 6002L, 6003L),     // light-only overlap with 3
      3L -> Seq(6000L, 6001L, 6002L, 6004L),
      4L -> ((900L to 902L) ++ Seq(7000L, 7001L)), // both with 5
      5L -> ((900L to 902L) ++ Seq(7000L, 7002L)),
      6L -> Seq(8000L, 8001L),                   // nothing with 7
      7L -> Seq(8100L, 8101L))
    (chorus ++ planted).flatMap { case (d, ss) => ss.map(d -> _) }
      .toDF("doc_id", "sh").localCheckpoint()
  }

  test("heavy-shingle split verification is exact on a planted df-head") {
    // r14: jaccardForBySh's prune branch splits the verify by shingle
    // weight (heavy iff df² > Σdf) — this fixture makes the split's
    // three row classes all non-empty and checks byte-equality with the
    // pair-first reference on a candidate list that includes them:
    //   - docs 0/1 share ONLY heavy shingles (i must come from the
    //     candidate-first branch alone — the full_outer's right side),
    //   - docs 2/3 share ONLY light shingles (left side alone),
    //   - docs 4/5 share both (the coalesce-sum),
    //   - docs 6/7 share nothing (no row in either spelling).
    val sh = plantedHead
    // sanity: the head really is heavy under the split's own rule
    val postings = sh.count()
    val maxDf = sh.groupBy("sh").count().agg(org.apache.spark.sql.functions.max("count"))
      .collect()(0).getLong(0)
    assert(maxDf * maxDf > postings, s"fixture not df-headed: $maxDf² ≤ $postings")
    val cands = Seq((0L, 1L), (2L, 3L), (4L, 5L), (6L, 7L), (0L, 2L))
      .toDF("doc0", "doc1")
    val reference = Dedup.jaccardFor(cands, sh)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .sortBy(_._1)
    for (forced <- Seq(Some(true), None)) {
      val split = Dedup.jaccardForBySh(cands, sh, forced)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .sortBy(_._1)
      assert(split.toSeq == reference.toSeq, s"prune=$forced")
    }
    // the classes behaved as designed: heavy-only pair present with the
    // right jaccard (3 shared of 4+4), light-only (3 of 4+4), mixed
    // (4 of 5+5), no-overlap absent
    val m = reference.toMap
    assertApprox(m((0L, 1L)), 3.0 / 5)
    assertApprox(m((2L, 3L)), 3.0 / 5)
    assertApprox(m((4L, 5L)), 4.0 / 6)
    assert(!m.contains((6L, 7L)))
  }

  test("heavy-shingle split verification ignores duplicated candidate rows") {
    // the prune branch counts heavy overlaps candidate-first, so a pair
    // listed twice must not count its heavy shingles twice: duplicated
    // input gives every pair the same Jaccard as deduplicated input, in
    // both forced modes. The chorus pairs keep every chorus doc through
    // the candidate-doc prune, so the head stays heavy (df² > Σdf) on
    // the pruned table and the candidate-first count really runs.
    val sh = plantedHead
    val once = Seq((0L, 1L), (2L, 3L), (4L, 5L), (6L, 7L), (0L, 2L)) ++
      (10L until 50L by 2L).map(d => (d, d + 1))
    val reference = Dedup.jaccardFor(once.toDF("doc0", "doc1"), sh)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val twice = (once ++ once.take(3) ++ once.takeRight(2)).toDF("doc0", "doc1")
    for (forced <- Seq(Some(true), Some(false), None)) {
      val got = Dedup.jaccardForBySh(twice, sh, forced)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      assert(got.toMap == reference, s"prune=$forced")
      assert(got.forall { case (k, v) => v == reference(k) }, s"prune=$forced")
    }
  }
}
