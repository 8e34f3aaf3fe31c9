package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec
import graft.text.Tokenizer

/** The text front end on degenerate inputs — an empty corpus, null text,
  * `""` and whitespace-only text, leading / trailing / repeated
  * separators, a non-breaking space (not a separator: Java's `\s` is
  * ASCII whitespace), documents of 1, 2 and exactly n tokens, and a
  * repeated document row. Every operator is checked, corpus by corpus,
  * against a plain-Scala brute force: `split("\\s+").filter(_.nonEmpty)`,
  * the Horner n-gram hash mod M, then distinct. Bad parameters fail with
  * a `require` message that names them. */
class TextDegenerateSpec extends SparkSpec {
  implicit lazy val s: SparkSession = spark
  import s.implicits._
  import Ordering.Double.TotalOrdering

  // ---- brute force -------------------------------------------------------

  private val M = TextHash.M

  private def toks(text: String): Seq[String] =
    if (text == null) Nil else text.split("\\s+").filter(_.nonEmpty).toSeq

  /** [[TextHash.tokenValue]]: length and the first, last and middle code
    * points. */
  private def tokenValue(t: String): Long = {
    val mid = math.floor((t.length + 1) / 2.0).toInt
    t.length.toLong * 1000003 + t.codePointAt(0) * 1009L +
      t.codePointAt(t.length - 1) * 31L + t.codePointAt(mid - 1)
  }

  /** Every n-gram hash of the token sequence, in order (repeats kept). */
  private def grams(text: String, n: Int): Seq[Long] =
    toks(text).map(tokenValue).sliding(n).filter(_.size == n)
      .map(_.reduceLeft((acc, v) => (acc * 31 + v) % M)).toSeq

  // ---- corpora -----------------------------------------------------------

  private val thirteen = "a0 b1 c2 d3 e4 f5 g6 h7 i8 j9 k10 l11 m12"

  private val degenerate: Seq[(Long, String)] = Seq(
    1L -> null,
    2L -> "",
    3L -> "   ",
    4L -> "\t\n \r\n",
    5L -> "  lead and trail  ",
    6L -> "rep\t\t sep\n\nrep  sep rep",
    7L -> "nb\u00a0sp one\u00a0word of the nbsp",
    8L -> "one",
    9L -> "one two",
    10L -> "alpha beta gamma",
    11L -> thirteen,
    12L -> s"the alpha beta gamma and $thirteen of the")

  private val corpora: Seq[(String, Seq[(Long, String)])] = Seq(
    "an empty corpus" -> Nil,
    "degenerate texts" -> degenerate,
    "a repeated document row" -> (degenerate :+ (12L -> degenerate.last._2)))

  private val evalTexts: Seq[(Long, String)] = Seq(
    100L -> null, 101L -> " \t ", 102L -> "beta gamma and a0 b1",
    103L -> thirteen)

  private def frame(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  // ---- operators, each against brute force, on every corpus --------------

  private val stops = TextAnalysis.Stopwords.toSet

  private def statsOf(text: String): (Long, Long, Double, Double, Double) = {
    val t = toks(text)
    val n = t.size.toDouble
    (t.size.toLong, t.distinct.size.toLong, t.map(_.length.toLong).sum / n,
      t.count(stops).toDouble / n, t.distinct.size / n)
  }

  private def withTokens(rows: Seq[(Long, String)]) =
    rows.filter { case (_, t) => toks(t).nonEmpty }

  private val checks: Seq[(String, Seq[(Long, String)] => Unit)] = Seq(
    "Tokenizer.tokens" -> { rows =>
      val got = Tokenizer.tokens(frame(rows), "doc_id", "text").as[(Long, String)]
        .collect().toSeq
      assert(got.sorted == rows.flatMap { case (id, t) => toks(t).map(id -> _) }.sorted)
    },
    "TextAnalysis.stats" -> { rows =>
      val got = TextAnalysis.stats(frame(rows), "doc_id", "text")
        .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
      val want = withTokens(rows).map { case (id, t) =>
        val (n, d, avg, sw, ttr) = statsOf(t)
        (id, n, d, avg, sw, ttr)
      }
      assert(got.sorted == want.sorted)
    },
    "TextAnalysis.qualityFilter" -> { rows =>
      val got = TextAnalysis.qualityFilter(frame(rows), "doc_id", "text",
          minTokens = 2, maxTokens = 12, minAvgTokenLen = 2.0,
          maxAvgTokenLen = 5.0, maxStopwordRatio = 0.2, minTtr = 0.5)
        .select("doc_id").as[Long].collect().toSeq
      val want = withTokens(rows).collect { case (id, t) if {
        val (n, _, avg, sw, ttr) = statsOf(t)
        n >= 2 && n <= 12 && avg >= 2.0 && avg <= 5.0 && sw <= 0.2 && ttr >= 0.5
      } => id }
      assert(got.sorted == want.sorted)
    },
    "TextAnalysis.tokenCounts" -> { rows =>
      val got = TextAnalysis.tokenCounts(frame(rows), "doc_id", "text")
        .as[(Long, Long, Long)].collect().toSeq
      val want = withTokens(rows).map { case (id, t) =>
        (id, toks(t).size.toLong, toks(t).map(w => (w.length + 3) / 4).sum.toLong)
      }
      assert(got.sorted == want.sorted)
    },
    "TextAnalysis.blocklistGate" -> { rows =>
      val got = TextAnalysis.blocklistGate(frame(rows), "doc_id", "text",
          Seq("rep", "one"), maxDensity = 0.4)
        .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
      val want = withTokens(rows).map { case (id, t) =>
        val n = toks(t).size.toLong
        val hits = toks(t).count(Set("rep", "one")).toLong
        val density = math.floor(hits.toDouble / n * 1e6 + 0.50001) / 1e6
        (id, n, hits, density, density > 0.4)
      }
      assert(got.sorted == want.sorted)
    },
    "Dedup.shingles" -> { rows =>
      val got = Dedup.shingles(frame(rows), "doc_id", "text").as[(Long, Long)]
        .collect().toSeq
      assert(got.sorted == rows.flatMap { case (id, t) =>
        grams(t, 3).distinct.map(id -> _) }.sorted)
    },
    "Dedup.shinglesK at n = 2 and 13" -> { rows =>
      for (n <- Seq(2, 13)) {
        val got = Dedup.shinglesK(frame(rows), "doc_id", "text", n).as[(Long, Long)]
          .collect().toSeq
        assert(got.sorted == rows.flatMap { case (id, t) =>
          grams(t, n).distinct.map(id -> _) }.sorted, s"n = $n")
      }
    },
    "Dedup.winnow" -> { rows =>
      val got = Dedup.winnow(frame(rows), "doc_id", "text", window = 2)
        .as[(Long, Long, Long)].collect().toSeq
      val want = rows.flatMap { case (id, t) =>
        val h = grams(t, 3)
        h.indices.map { i =>
          // rightmost minimum of the frame-truncated window
          val j = (i until math.min(i + 2, h.size)).reduceLeft((a, b) =>
            if (h(b) <= h(a)) b else a)
          (id, j + 1L, h(j))
        }.distinct
      }
      assert(got.sorted == want.sorted)
    },
    "Dedup.spanScrub" -> { rows =>
      val n = 2
      val got = Dedup.spanScrub(frame(rows), "doc_id", "text", n).as[(Long, String)]
        .collect().toSeq
      val spans = rows.flatMap { case (id, t) =>
        toks(t).sliding(n).filter(_.size == n).zipWithIndex
          .map { case (w, p) => (w, id, p + 1) }
      }
      val owner = spans.groupBy(_._1).collect {
        case (w, occ) if occ.map(_._2).distinct.size > 1 => w -> occ.map(_._2).min
      }
      val starts = spans.collect { case (w, id, p) if owner.get(w).exists(_ != id) => id -> p }
        .groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).toSet }
      val want = rows.map { case (id, t) =>
        val st = starts.getOrElse(id, Set.empty[Int])
        val kept = toks(t).zipWithIndex.collect {
          case (w, i) if !st.exists(s0 => i + 1 >= s0 && i + 1 < s0 + n) => w
        }
        (id, if (t == null) null else kept.mkString(" "))
      }
      val byIdText = Ordering.by((r: (Long, String)) => (r._1, Option(r._2)))
      assert(got.sorted(byIdText) == want.sorted(byIdText))
    },
    "Dedup.contamination at n = 3 and 13" -> { rows =>
      for (n <- Seq(3, 13)) {
        val got = Dedup.contamination(frame(rows), frame(evalTexts), "doc_id", "text", n)
          .as[(Long, Long, Long, Double)].collect().toSeq
        val evalSet = evalTexts.flatMap { case (_, t) => grams(t, n) }.toSet
        // distinct per input row: a repeated row counts its shingles again
        val want = rows.flatMap { case (id, t) => grams(t, n).distinct.map(id -> _) }
          .groupBy(_._1).toSeq.map { case (id, sh) =>
            val hits = sh.count { case (_, h) => evalSet(h) }.toLong
            (id, sh.size.toLong, hits, hits.toDouble / sh.size)
          }
        assert(got.sorted == want.sorted, s"n = $n")
      }
    },
    "Pipelines.cleanCorpus" -> { rows =>
      // eval documents ride in the same table under their own source
      val docs = (rows.map { case (id, t) => (id, t, "web") } ++
        evalTexts.map { case (id, t) => (id, t, "eval") })
        .toDF("doc_id", "text", "source")
      val got = Pipelines.cleanCorpus(docs, "doc_id", "text", "source", "eval",
          minTokens = 1, maxAvgTokenLen = 20.0, maxStopwordRatio = 1.0, minTtr = 0.0)
        .as[(Long, Long, Long)].collect().toSeq
      val evalSet = evalTexts.flatMap { case (_, t) => grams(t, 3) }.toSet
      // the one near-duplicate pair (11, 12) is also contaminated, so
      // every survivor is its own duplicate group
      val want = withTokens(rows).distinct
        .filter { case (_, t) => !grams(t, 3).exists(evalSet) }
        .map { case (id, t) => (id, id, toks(t).size.toLong) }
      assert(got.sorted == want.sorted)
    })

  for ((corpus, rows) <- corpora; (op, check) <- checks)
    test(s"$op on $corpus equals brute force") { check(rows) }

  test("one token count per document across tokens, stats, tokenCounts and blocklistGate") {
    val docs = frame(degenerate)
    val fromTokens = Tokenizer.tokens(docs, "doc_id", "text")
      .groupBy("doc").count().as[(Long, Long)].collect().toMap
    def counts(df: DataFrame, c: String): Map[Long, Long] =
      df.select("doc_id", c).as[(Long, Long)].collect().toMap
    val want = withTokens(degenerate).map { case (id, t) => id -> toks(t).size.toLong }.toMap
    assert(fromTokens == want)
    assert(counts(TextAnalysis.stats(docs, "doc_id", "text"), "n_tokens") == want)
    assert(counts(TextAnalysis.tokenCounts(docs, "doc_id", "text"), "ws_tokens") == want)
    assert(counts(TextAnalysis.blocklistGate(docs, "doc_id", "text", Seq("x"), 1.0),
      "n_tokens") == want)
  }

  // ---- parameters --------------------------------------------------------

  private def assertRejects(param: String)(call: => Any): Unit = {
    val e = intercept[IllegalArgumentException](call)
    assert(e.getMessage.contains(s"$param must"),
      s"message '${e.getMessage}' does not name $param")
  }

  test("bad parameters fail with a require that names them") {
    val docs = frame(degenerate)
    assertRejects("n")(Dedup.shinglesK(docs, "doc_id", "text", 1))
    assertRejects("window")(Dedup.winnow(docs, "doc_id", "text", window = 0))
    assertRejects("n")(Dedup.spanScrub(docs, "doc_id", "text", 0))
    assertRejects("patterns")(
      TextAnalysis.blocklistGate(docs, "doc_id", "text", Nil, 0.5))
    assertRejects("maxDensity")(
      TextAnalysis.blocklistGate(docs, "doc_id", "text", Seq("x"), -0.1))
  }
}
