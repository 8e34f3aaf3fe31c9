package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The pair-join dedup operators on degenerate inputs — an empty table,
  * one document, every document identical (one key holds every posting,
  * so a cap of 2 fires while the default cap does not), a repeated doc-id
  * row, and null or empty text. Each result equals a plain-Scala brute
  * force over the operator's own per-row inputs (shingles, tokens,
  * sketches, hashes), and each operator's duplicate-id answer is stated
  * and pinned:
  *
  *   - `minHashDups`, `prefixJaccardDups`: every row of an id adds its
  *     shingles again, so set sizes and overlaps count each row (a
  *     pair of an id repeated k times with a copy of its text scores k);
  *   - `weightedJaccardDups`: rows sharing an id are one document holding
  *     all their tokens (term frequencies add up);
  *   - `editDistanceDups`: each row is its own record, so a pair is
  *     emitted once per matching row pair;
  *   - `simHashDups`, `simHashDups24`, `simHashWideDups`: rows sharing an
  *     id are one document holding all their shingles (one sketch per id);
  *   - `Multimodal.phashDups`: candidates are distinct id pairs, then each
  *     hash row of either endpoint is verified, so a pair is emitted once
  *     per (row, row) combination.
  */
class DedupDegenerateSpec extends SparkSpec {
  implicit lazy val s: SparkSession = spark
  import s.implicits._

  private type Pairs[V] = Map[(Long, Long), Seq[V]]

  // ---- corpora -----------------------------------------------------------

  private val five = "alpha beta gamma delta epsilon"
  private val fox = "the quick brown fox jumps over the lazy dog"

  private def corpus(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  private lazy val corpora: Seq[(String, DataFrame)] = Seq(
    "empty" -> corpus(),
    "one document" -> corpus(1L -> fox),
    "all identical" -> corpus((1L to 4L).map(_ -> five): _*),
    "repeated id" -> corpus(1L -> five, 1L -> five, 2L -> five, 3L -> fox),
    "null and empty text" -> corpus(1L -> fox, 2L -> (fox + " cat"),
      3L -> null, 4L -> "", 5L -> "   ", 6L -> null, 7L -> "the quick brown fox"))

  // ---- brute force -------------------------------------------------------

  private def grouped[V](rows: Seq[((Long, Long), V)]): Pairs[V] =
    rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sortBy(_.toString) }

  private def collectPairs[V](df: DataFrame): Pairs[V] =
    grouped(df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)) -> r.get(2).asInstanceOf[V]))

  /** (doc_id, sh) rows, one per shingle per input row. */
  private def shingleRows(docs: DataFrame): Seq[(Long, Long)] =
    Dedup.shingles(docs, "doc_id", "text").collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("sh")))

  private def byId[K](rows: Seq[(Long, K)]): Map[Long, Seq[K]] =
    rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private def idPairs(ids: Iterable[Long]): Seq[(Long, Long)] = {
    val s = ids.toSeq.distinct.sorted
    for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
  }

  /** Jaccard as the kernels count it: overlap = Σ_sh c0(sh)·c1(sh) over
    * the rows of each id, sizes = row counts. Equals set Jaccard when ids
    * are unique. None when nothing is shared. */
  private def jaccard(a: Seq[Long], b: Seq[Long]): Option[Double] = {
    val cb = b.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val i = a.map(cb.getOrElse(_, 0L)).sum
    if (i == 0) None else Some(i.toDouble / (a.size + b.size - i))
  }

  private def minHashBands(shs: Seq[Long]): Seq[Long] = {
    val sig = Dedup.HashParams.map { case (a, b) => shs.map(s => (a * s + b) % TextHash.M).min }
    sig.grouped(Dedup.BandRows).map(_.reduce((acc, x) => (acc * 31 + x) % TextHash.M)).toSeq
  }

  private def bruteMinHash(docs: DataFrame, t: Double): Pairs[Double] = {
    val sh = byId(shingleRows(docs))
    val bands = sh.map { case (id, s) => id -> minHashBands(s) }
    grouped(idPairs(sh.keys).flatMap { case (a, b) =>
      val cand = bands(a).zip(bands(b)).exists { case (x, y) => x == y }
      jaccard(sh(a), sh(b)).filter(j => cand && j >= t).map((a, b) -> _)
    })
  }

  private def brutePrefix(docs: DataFrame, t: Double, maxDf: Option[Long]): Pairs[Double] = {
    val rows = shingleRows(docs)
    val df = rows.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val sh = byId(rows.filter(r => maxDf.forall(df(r._2) <= _)))
    grouped(idPairs(sh.keys).flatMap { case (a, b) =>
      jaccard(sh(a), sh(b)).filter(_ >= t).map((a, b) -> _)
    })
  }

  private def bruteWeighted(docs: DataFrame, minWj: Double, maxDf: Long): Pairs[Double] = {
    val toks = docs.collect().toSeq.flatMap { r =>
      Option(r.getString(1)).toSeq.flatMap(_.split("\\s+").filter(_.nonEmpty))
        .map(r.getLong(0) -> _)
    }
    val tf = toks.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val df = tf.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val kept = byId(tf.toSeq.filter { case ((_, t), _) => df(t) <= maxDf }
      .map { case ((id, t), n) => id -> (t, n) }).map { case (k, v) => k -> v.toMap }
    grouped(idPairs(kept.keys).flatMap { case (a, b) =>
      val shared = kept(a).keySet.intersect(kept(b).keySet)
      val smin = shared.toSeq.map(t => math.min(kept(a)(t), kept(b)(t))).sum
      val (s0, s1) = (kept(a).values.sum, kept(b).values.sum)
      val wj = smin.toDouble / (s0 + s1 - smin).toDouble
      if (shared.nonEmpty && wj >= minWj) Some((a, b) -> wj) else None
    })
  }

  private def normalize(t: String): String =
    t.toLowerCase.replaceAll("[^\\p{L}\\p{N}\\s]", " ").replaceAll("\\s+", " ").trim

  private def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
    d(a.length)(b.length)
  }

  private def bruteEditDistance(docs: DataFrame, maxDist: Int, prefixLen: Int,
      maxBlock: Option[Long]): Pairs[Long] = {
    val rows = docs.collect().toSeq.flatMap(r => Option(r.getString(1)).map(t => r.getLong(0) -> normalize(t)))
    val blockSize = rows.groupBy(_._2.take(prefixLen)).map { case (k, v) => k -> v.size.toLong }
    val kept = rows.filter(r => maxBlock.forall(blockSize(r._2.take(prefixLen)) <= _))
    grouped(for {
      (a, ta) <- kept; (b, tb) <- kept
      if a < b && ta.take(prefixLen) == tb.take(prefixLen) &&
        math.abs(ta.length - tb.length) <= maxDist
      dist = levenshtein(ta, tb) if dist <= maxDist
    } yield (a, b) -> dist.toLong)
  }

  /** Pigeonhole banding over `chunks` equal slices of a `bits`-wide key,
    * buckets above `maxBucket` dropped, then the exact hamming verify;
    * `chunks = 0` is the all-pairs compare. */
  private def bruteBanded(keys: Seq[(Long, Long)], bits: Int, chunks: Int,
      maxBucket: Long, maxHamming: Int): Pairs[Long] = {
    val w = if (chunks == 0) bits else bits / chunks
    def chunk(h: Long, c: Int) = (h >>> (c * w)) & ((1L << w) - 1)
    val occ = keys.distinct.flatMap { case (id, h) => (0 until chunks).map(c => (c, chunk(h, c)) -> id) }
      .groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val sk = keys.toMap
    grouped(idPairs(sk.keys).flatMap { case (a, b) =>
      val cand = chunks == 0 || (0 until chunks).exists(c =>
        chunk(sk(a), c) == chunk(sk(b), c) && occ((c, chunk(sk(a), c))) <= maxBucket)
      val ham = java.lang.Long.bitCount(sk(a) ^ sk(b)).toLong
      if (cand && ham <= maxHamming) Some((a, b) -> ham) else None
    })
  }

  /** The 24-bit sign-vote sketch per id, from the per-row shingles. */
  private def narrowSketches(docs: DataFrame): Seq[(Long, Long)] =
    byId(shingleRows(docs)).toSeq.map { case (id, shs) =>
      id -> (0 until Dedup.SimHashBits).map { i =>
        if (shs.map(s => if (((s >> i) & 1L) == 1L) 1 else -1).sum > 0) 1L << i else 0L
      }.sum
    }

  private def wideSketches(docs: DataFrame): Seq[(Long, Long)] =
    Dedup.simHashWide(docs, "doc_id", "text").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  private def assertRejects(param: String)(call: => Any): Unit = {
    val e = intercept[IllegalArgumentException](call)
    assert(e.getMessage.stripPrefix("requirement failed: ").startsWith(param),
      s"message '${e.getMessage}' does not start with $param")
  }

  // ---- each operator against brute force on every corpus -----------------

  private def checkAll[V](what: String)(got: DataFrame => DataFrame,
      want: DataFrame => Pairs[V]): Unit =
    corpora.foreach { case (name, docs) =>
      assert(collectPairs[V](got(docs)) == want(docs), s"$what on '$name'")
    }

  test("minHashDups equals banded brute force on every degenerate corpus") {
    checkAll[Double]("minHashDups")(Dedup.minHashDups(_, "doc_id", "text", 0.2),
      bruteMinHash(_, 0.2))
  }

  test("prefixJaccardDups equals exhaustive brute force, uncapped and at maxDf = 2") {
    for (maxDf <- Seq(None, Some(2L)))
      checkAll[Double](s"prefixJaccardDups maxDf=$maxDf")(
        Dedup.prefixJaccardDups(_, "doc_id", "text", 0.3, maxDf = maxDf),
        brutePrefix(_, 0.3, maxDf))
  }

  test("weightedJaccardDups equals multiset brute force at the default cap and at 2") {
    for (maxDf <- Seq(200L, 2L))
      checkAll[Double](s"weightedJaccardDups maxDf=$maxDf")(
        Dedup.weightedJaccardDups(_, "doc_id", "text", 0.2, maxDf),
        bruteWeighted(_, 0.2, maxDf))
  }

  test("editDistanceDups equals blocked brute force, with and without maxBlock") {
    for (maxBlock <- Seq(None, Some(2L)))
      checkAll[Long](s"editDistanceDups maxBlock=$maxBlock")(
        Dedup.editDistanceDups(_, "doc_id", "text", 3, 12, maxBlock),
        bruteEditDistance(_, 3, 12, maxBlock))
  }

  test("simHashDups24 equals the all-pairs hamming brute force, banded and fallback") {
    for (h <- Seq(3, 5))
      checkAll[Long](s"simHashDups24 maxHamming=$h")(
        Dedup.simHashDups24(_, "doc_id", "text", h),
        d => bruteBanded(narrowSketches(d), Dedup.SimHashBits,
          if (h < Dedup.SimHashChunks) Dedup.SimHashChunks else 0, Long.MaxValue, h))
  }

  test("simHashWideDups and simHashDups equal capped brute force at the default cap and at 2") {
    for (cap <- Seq(Dedup.SimHashDefaultMaxBucket, 2L)) {
      def want(d: DataFrame) = bruteBanded(wideSketches(d), Dedup.SimHashWideBits,
        Dedup.SimHashWideChunks, cap, 3)
      checkAll[Long](s"simHashWideDups maxBucket=$cap")(
        Dedup.simHashWideDups(_, "doc_id", "text", cap, 3), want)
      checkAll[Long](s"simHashDups maxBucket=$cap")(
        Dedup.simHashDups(_, "doc_id", "text", 3, cap), want)
    }
  }

  test("phashDups equals capped brute force on degenerate hash tables") {
    val (lo, hi) = (0x12345678L, 0x0abcdef0L)
    val tables: Seq[(String, Seq[(Long, java.lang.Long, java.lang.Long)])] = Seq(
      "empty" -> Nil,
      "one image" -> Seq((1L, lo, hi)),
      "all identical" -> (1L to 4L).map(i => (i, Long.box(lo), Long.box(hi))),
      "repeated id" -> Seq((1L, lo, hi), (1L, lo, hi), (2L, lo, hi ^ 1L), (3L, ~lo & 0xffffffffL, hi)),
      "null hash" -> Seq((1L, lo, hi), (2L, null, null), (3L, lo ^ 4L, hi)))
    for ((name, rows) <- tables; cap <- Seq(None, Some(2L))) {
      val hashes = rows.toDF("doc_id", "lo", "hi")
      val got = collectPairs[Long](Multimodal.phashDups(hashes, 3, cap))
      // per hash row: 4 sixteen-bit bands of (hi << 32 | lo)
      val keyed = rows.collect { case (id, l, h) if l != null => (id, (h.longValue << 32) | l.longValue) }
      // occupancy counts band rows, so a repeated row fills its bucket twice
      val occ = keyed.flatMap { case (_, k) => (0 until 4).map(c => (c, (k >>> (16 * c)) & 65535L)) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val byDoc = byId(keyed)
      val cand = idPairs(byDoc.keys).filter { case (a, b) =>
        (0 until 4).exists(c => byDoc(a).exists(x => byDoc(b).exists(y =>
          ((x >>> (16 * c)) & 65535L) == ((y >>> (16 * c)) & 65535L) &&
            cap.forall(occ((c, (x >>> (16 * c)) & 65535L)) <= _))))
      }
      val want = grouped(for {
        (a, b) <- cand; x <- byDoc(a); y <- byDoc(b)
        ham = java.lang.Long.bitCount(x ^ y).toLong if ham <= 3
      } yield (a, b) -> ham)
      assert(got == want, s"phashDups maxBucket=$cap on '$name'")
    }
  }

  test("all identical: the default caps keep all C(4, 2) pairs, a cap of 2 drops them") {
    val docs = corpora.toMap.apply("all identical")
    def n(df: DataFrame) = df.count()
    assert(n(Dedup.minHashDups(docs, "doc_id", "text")) == 6)
    assert(n(Dedup.prefixJaccardDups(docs, "doc_id", "text")) == 6)
    assert(n(Dedup.prefixJaccardDups(docs, "doc_id", "text", maxDf = Some(2L))) == 0)
    assert(n(Dedup.weightedJaccardDups(docs, "doc_id", "text")) == 6)
    assert(n(Dedup.weightedJaccardDups(docs, "doc_id", "text", maxDf = 2L)) == 0)
    assert(n(Dedup.editDistanceDups(docs, "doc_id", "text")) == 6)
    assert(n(Dedup.editDistanceDups(docs, "doc_id", "text", maxBlock = Some(2L))) == 0)
    assert(n(Dedup.simHashDups(docs, "doc_id", "text")) == 6)
    assert(n(Dedup.simHashDups(docs, "doc_id", "text", maxBucket = 2L)) == 0)
    assert(n(Dedup.simHashDups24(docs, "doc_id", "text")) == 6)
    val hashes = (1L to 4L).map(i => (i, 7L, 9L)).toDF("doc_id", "lo", "hi")
    assert(n(Multimodal.phashDups(hashes)) == 6)
    assert(n(Multimodal.phashDups(hashes, maxBucket = Some(2L))) == 0)
  }

  // ---- the duplicate-id answers, pinned ----------------------------------

  test("repeated id: each operator's stated answer") {
    val docs = corpus(1L -> five, 1L -> five, 2L -> five)
    def rows(df: DataFrame) = df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.get(2)))
    // shingles counted once per row: overlap 2·3, sizes 6 and 3
    assert(rows(Dedup.minHashDups(docs, "doc_id", "text", 0.2)) == Seq((1L, 2L, 2.0)))
    assert(rows(Dedup.prefixJaccardDups(docs, "doc_id", "text", 0.3)) == Seq((1L, 2L, 2.0)))
    // one document holding both rows' tokens: Σmin 5 over Σmax 10
    assert(rows(Dedup.weightedJaccardDups(docs, "doc_id", "text", 0.2)) == Seq((1L, 2L, 0.5)))
    // each row a record: one pair per matching row pair
    assert(rows(Dedup.editDistanceDups(docs, "doc_id", "text")) ==
      Seq((1L, 2L, 0L), (1L, 2L, 0L)))
    // one sketch per id
    assert(rows(Dedup.simHashDups(docs, "doc_id", "text")) == Seq((1L, 2L, 0L)))
    assert(rows(Dedup.simHashDups24(docs, "doc_id", "text")) == Seq((1L, 2L, 0L)))
    val hashes = Seq((1L, 7L, 9L), (1L, 7L, 9L), (2L, 7L, 9L)).toDF("doc_id", "lo", "hi")
    assert(rows(Multimodal.phashDups(hashes)) == Seq((1L, 2L, 0L), (1L, 2L, 0L)))
  }

  // ---- named requires ----------------------------------------------------

  test("bad parameters fail with a require message that starts with the parameter") {
    val docs = corpus(1L -> five, 2L -> five)
    val pairs = Seq((1L, 2L)).toDF("doc0", "doc1")
    val hashes = Seq((1L, 7L, 9L)).toDF("doc_id", "lo", "hi")
    assertRejects("maxDist")(Dedup.editDistanceDups(docs, "doc_id", "text", maxDist = -1))
    assertRejects("prefixLen")(Dedup.editDistanceDups(docs, "doc_id", "text", prefixLen = 0))
    assertRejects("maxBlock")(Dedup.editDistanceDups(docs, "doc_id", "text", maxBlock = Some(1L)))
    assertRejects("rounds")(Dedup.dupGroups(docs, pairs, "doc_id", rounds = 0))
    assertRejects("maxRounds")(Dedup.dupGroupsConverged(docs, pairs, "doc_id", maxRounds = 0))
    assertRejects("maxRounds")(Dedup.dupGroupsStars(docs, pairs, "doc_id", maxRounds = 0))
    assertRejects("thresholds")(Dedup.jaccardThresholdSweep(docs, "doc_id", "text", Nil))
    assertRejects("maxBucket")(Dedup.simHashWideDups(docs, "doc_id", "text", maxBucket = 1L))
    assertRejects("maxBucket")(Dedup.simHashDups(docs, "doc_id", "text", maxBucket = 1L))
    assertRejects("maxHamming")(Dedup.simHashWideDups(docs, "doc_id", "text", 200L, maxHamming = 4))
    assertRejects("maxBucket")(Multimodal.phashDups(hashes, maxBucket = Some(1L)))
    assertRejects("maxHamming")(Multimodal.phashDups(hashes, maxHamming = 4))
    assertRejects("maxDf")(Dedup.weightedJaccardDups(docs, "doc_id", "text", maxDf = 0L))
    assertRejects("maxDf")(Dedup.prefixJaccardDups(docs, "doc_id", "text", maxDf = Some(0L)))
    assertRejects("minJaccard")(Dedup.prefixJaccardDups(docs, "doc_id", "text", minJaccard = 0.0))
  }

  // ---- star contraction: one count per pinned edge set -------------------

  test("dupGroupsStars counts each pinned edge set once and matches the components") {
    val docs = (1L to 8L).map(i => (i, "x")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L)).toDF("doc0", "doc1")
    val fenceCol = "dedup_stars_action_fence"
    val fences = new java.util.concurrent.atomic.AtomicInteger(0)
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == fenceCol)) fences.incrementAndGet()
        else if (fences.get() == 1) actions.add(funcName)
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
    val groups = try {
      fence(1)
      val g = Dedup.dupGroupsStars(docs, pairs, "doc_id")
      fence(2)
      g
    } finally spark.listenerManager.unregister(listener)
    val got = groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 8L))
    val seen = actions.asScala.toSeq
    val pins = seen.count(_ == "localCheckpoint")
    // one count per pinned edge set (the setup pin and one per round),
    // and one set-equality probe per round whose edge count did not move
    assert(seen.count(_ == "count") == pins, seen.mkString(", "))
    // three rounds here: 2 setup actions + 3 per round (a second count of
    // the previous edge set per round would make it 2 + 4 per round)
    assert(seen.size == 2 + 3 * 3, seen.mkString(", "))
  }
}
