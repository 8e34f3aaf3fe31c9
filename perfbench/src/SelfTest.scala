package perfbench

/**
 * The benchmark's own tests, no Spark session needed:
 *   - every generator gives identical inputs for one seed and different
 *     inputs for another;
 *   - every checker accepts the brute force's own answer and rejects a
 *     deliberately perturbed one.
 * Run with `python3 perfbench/run.py --selftest`; exits 1 on a failure.
 */
object SelfTest {
  private var passed = 0
  private val failed = scala.collection.mutable.ArrayBuffer.empty[String]

  private def expect(ok: Boolean, what: String): Unit =
    if (ok) passed += 1 else failed += what

  /** Runs a checker on a result; true when it reported no failure. */
  private def accepts(f: Check.Report => Unit): Boolean = {
    val r = new Check.Report
    f(r)
    r.ok
  }

  private def sameCoo(a: Gen.Coo, b: Gen.Coo): Boolean =
    a.ys.sameElements(b.ys) && a.xs.sameElements(b.xs) && a.vals.sameElements(b.vals)

  def main(args: Array[String]): Unit = {
    // generators
    val c = (s: Long) => Gen.supplierMatrix(s, 400, 8, 64, 600)
    expect(sameCoo(c(5), c(5)), "supplierMatrix differs for one seed")
    expect(!sameCoo(c(5), c(6)), "supplierMatrix ignores its seed")
    expect(Gen.cooProps(c(5)).head == Gen.cooProps(c(6)).head &&
      math.abs(c(5).cells - c(6).cells) <= c(5).cells / 100,
      "supplierMatrix's vector count, or its cell count to 1%, depends on the seed")
    val cm = c(5)
    expect((0 until cm.cells).groupBy(cm.ys(_)).values.forall(_.map(cm.xs(_) / 64).distinct.size == 1),
      "supplierMatrix puts a vector's cells in two blocks")
    val spec = CorpusClean.Spec.copy(docs = 3000)
    val k = (s: Long) => Gen.corpus(s, spec)
    expect(k(5).docs.sameElements(k(5).docs), "corpus differs for one seed")
    expect(!k(5).docs.sameElements(k(6).docs), "corpus ignores its seed")
    expect(k(5).props.filter(_._1 != "tokens").filter(_._1 != "boilerplate_rate") ==
      k(6).props.filter(_._1 != "tokens").filter(_._1 != "boilerplate_rate"),
      "corpus's planted counts depend on the seed")

    // cosine checkers
    val m = c(3)
    val ref = new Check.Ref(m)
    val v = (0 until ref.nVec).find(ref.present).get
    val top = ref.topK(v, 10).zipWithIndex.map { case ((u, s), i) => (i + 1L, u, s) }
    expect(accepts(Check.topKRows(ref, v, 10, top, _)), "topKRows rejects the brute force")
    expect(accepts(Check.topKRows(ref, v, 10, top.take(4), _)), "topKRows rejects a short exact list")
    val swapped = top.updated(0, top(1).copy(_1 = 1L)).updated(1, top(0).copy(_1 = 2L))
    expect(top(0)._3 == top(1)._3 || !accepts(Check.topKRows(ref, v, 10, swapped, _)),
      "topKRows accepts an out-of-order list")
    expect(!accepts(Check.topKRows(ref, v, 10, top.updated(2, top(2).copy(_3 = top(2)._3 - 0.01)), _)),
      "topKRows accepts a wrong similarity")
    expect(!accepts(Check.topKRows(ref, v, 10, top :+ top.last.copy(_1 = 11L), _)),
      "topKRows accepts a repeated neighbor")
    expect(Check.recall(ref, v, 10, top.map(_._2)) == 1.0, "recall of the exact list is not 1")
    expect(Check.recall(ref, v, 10, top.take(5).map(_._2)) == 0.5, "recall of half the list is not 0.5")

    // corpus checker
    val corpus = k(9).docs
    val evalGrams = corpus.filter(_.source == "eval").flatMap(d => Check.trigrams(Check.tokens(d.text))).toSet
    def eligible(d: Gen.Doc) = d.source != "eval" && Check.qualityPass(Check.tokens(d.text)) &&
      !Check.trigrams(Check.tokens(d.text)).exists(evalGrams)
    val firstOfCluster = corpus.filter(_.cluster >= 0).groupBy(_.cluster).values.map(_.minBy(_.id).id).toSet
    val kept = corpus.filter(d => eligible(d) && (d.cluster < 0 || firstOfCluster(d.id)))
      .map(d => (d.id, Check.tokens(d.text).length.toLong)).toSeq
    def clean(rows: Seq[(Long, Long)]) = { val r = new Check.Report; val rec = Check.cleanCorpus(corpus, rows, r); (r.ok, rec) }
    expect(clean(kept) == ((true, 1.0)), "cleanCorpus rejects a clean answer or misreads its dup recall")
    def withDoc(p: Gen.Doc => Boolean) =
      corpus.find(p).map(d => kept :+ ((d.id, Check.tokens(d.text).length.toLong)))
    for ((what, rows) <- Seq(
      "an eval doc" -> withDoc(_.source == "eval"),
      "a low-quality doc" -> withDoc(d => d.source != "eval" && !Check.qualityPass(Check.tokens(d.text))),
      "a contaminated doc" -> withDoc(d => d.source != "eval" && Check.qualityPass(Check.tokens(d.text)) &&
        Check.trigrams(Check.tokens(d.text)).exists(evalGrams)))) {
      expect(rows.nonEmpty, s"the corpus fixture has no $what")
      rows.foreach(x => expect(!clean(x)._1, s"cleanCorpus accepts $what"))
    }
    expect(!clean(kept.updated(0, kept(0).copy(_2 = kept(0)._2 + 1)))._1, "cleanCorpus accepts a wrong n_tokens")
    expect(!clean(Nil)._1, "cleanCorpus accepts an empty answer")
    val dupKept = corpus.filter(d => d.cluster >= 0 && !firstOfCluster(d.id) && eligible(d)).take(1)
      .map(d => (d.id, Check.tokens(d.text).length.toLong))
    expect(dupKept.nonEmpty && clean(kept ++ dupKept)._2 < 1.0, "dup recall ignores a kept duplicate")

    failed.foreach(f => println(s"FAIL $f"))
    println(s"selftest: $passed passed, ${failed.size} failed")
    if (failed.nonEmpty) sys.exit(1)
  }
}
