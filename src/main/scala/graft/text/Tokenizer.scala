package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.MatrixElement

/**
 * Tokenization + term-frequency matrix building (reference:
 * src/test/scala/com/saltfish/run/KeyWordsDemo.scala:19–101 — rows B,C,D,E of
 * SURVEY.md §2).
 *
 * The reference tokenizes with the ansj Chinese segmenter (an external dep,
 * pom.xml:14) inside a typed `flatMap`, with stop words collected to the
 * driver. We rebuild it declaratively: `explode` over a SQL token array
 * keeps the pipeline inside Catalyst (codegen'd, prunable), and stop-word
 * removal is a broadcast left-anti join — no driver-side collect, no
 * per-row JVM object churn.
 *
 * THE TOKEN RULE: a token is a non-empty piece of the text split on
 * [[WhitespacePattern]]. [[tokensSql]] is its one spelling; every text,
 * dedup and corpus operator in graft.ext and graft.streaming builds on it,
 * so token counts agree across operators by construction. (Only
 * `TextAnalysis.tokensWithPosition` and `fingerprint` split on the
 * pattern themselves: they number the empty slots too, on purpose.)
 */
object Tokenizer {

  /** The one token separator: runs of Java-regex whitespace. */
  val WhitespacePattern = "\\s+"

  /** SQL text for the array of non-empty tokens of `textCol` (a column
    * name or SQL expression) — the token rule. Null text gives null.
    * Spelled with `array_remove`, not a `filter` lambda: `split` and
    * `array_remove` are whole-stage code-generated, a higher-order
    * function is evaluated interpreted (~1.5× slower to tokenize 200k
    * documents on a 4-core host). */
  def tokensSql(textCol: String): String =
    s"array_remove(split($textCol, '${WhitespacePattern.replace("\\", "\\\\")}'), '')"

  /** One (doc, token) row per token of the token rule. */
  def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"), explode(expr(tokensSql(textCol))).as("token"))

  /** Character class of scripts written without word separators (Han +
    * kana + Hangul) — the scripts [[tokensCjk]]'s bigram fallback covers. */
  val CjkClass: String = "\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}"

  /**
   * Tokenization with a character-bigram fallback for unsegmented CJK
   * text. The reference's own demo corpus is Chinese (reference
   * src/test/data/ articles), segmented there by the external ansj library
   * (KeyWordsDemo.scala:47–58, pom.xml:14) — unavailable offline and
   * external to the engine's semantics; a whitespace split yields one
   * useless whole-sentence token per line on such text. Character
   * bigrams are the standard segmentation-free substitute (Lucene's
   * CJKAnalyzer does the same): each maximal CJK run emits its
   * overlapping 2-char grams (an isolated single CJK char emits itself),
   * while non-CJK stretches keep the token rule exactly as [[tokens]]
   * does, so mixed-script corpora keep word tokens for the Latin parts.
   *
   * Mechanics are pure SQL — two `regexp_replace` passes isolate CJK
   * runs with spaces, then [[tokens]] + HOF `transform` + `explode` emit
   * the grams. No UDF, and at scale the stage remains a pure map over
   * the document table, exactly like [[tokens]].
   */
  def tokensCjk(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // space-separate every boundary between a CJK and a non-CJK char, so
    // after the whitespace split each segment is either a pure CJK run or
    // ordinary non-CJK text
    val sep = regexp_replace(
      regexp_replace(col(textCol), s"([$CjkClass])([^$CjkClass])", "$1 $2"),
      s"([^$CjkClass])([$CjkClass])", "$1 $2")
    tokens(docs.withColumn(textCol, sep), idCol, textCol)
      .select(col("doc"), explode(
        when(col("token").rlike(s"^[$CjkClass]{2,}$$"),
          expr("transform(sequence(1, length(token) - 1), i -> substr(token, i, 2))"))
          .otherwise(array(col("token")))).as("token"))
  }

  /**
   * Remove stop words with a broadcast left-anti join (reference collects the
   * stop list to the driver and filters inside the tokenizer,
   * KeyWordsDemo.scala:31–43 — a pattern that breaks for large stop lists).
   */
  def removeStopWords(tokens: DataFrame, stopWords: DataFrame, wordCol: String = "token"): DataFrame =
    tokens.join(
      broadcast(stopWords.select(col(stopWords.columns.head).as(wordCol))),
      Seq(wordCol),
      "left_anti")

  /**
   * Term-frequency COO matrix: one MatrixElement(doc, term, count) per
   * distinct (doc, term) — the reference's `groupBy(x, y).agg(sum(value))`
   * (KeyWordsDemo.scala:59–63). Partial (map-side) aggregation is automatic.
   * Vectors live on the `y` axis (doc ids), coordinates on `x` (terms),
   * matching the demo's `axis = "y"` convention (KeyWordsDemo.scala:102).
   */
  def termFrequency(tokens: DataFrame)(implicit spark: SparkSession): Dataset[MatrixElement] = {
    import spark.implicits._
    tokens
      .groupBy(col("doc").cast("string").as("y"), col("token").as("x"))
      .agg(count(lit(1)).cast("double").as("value"))
      .as[MatrixElement]
  }

  /**
   * TF-IDF COO matrix from a TF matrix: value = tf · ln(N / df), where N is
   * the corpus document count and df the term's document frequency — the
   * classic weighting a text pipeline applies before cosine similarity, so
   * the Zipf-head terms that dominate raw TF (and blow up the pairwise
   * alignment — see [[graft.core.CosineAnalysis.dfCap]]) carry ~zero
   * weight. Terms present in every document get exactly 0.
   *
   * Scale: one extra aggregation over the TF matrix keyed by term (map-side
   * partial count), broadcast-or-shuffle joined back by Catalyst/AQE — the
   * df table has one row per distinct term. N is a 1-row aggregate
   * broadcast-joined into the plan, so building the query runs NO job and
   * the whole computation stays lazy (plan construction used to fire an
   * eager `count()` over the TF matrix). N and df are exact integers;
   * ln differs across engines by ≤1 ulp, absorbed by the 1e-6 result grid.
   */
  def tfIdf(tf: Dataset[MatrixElement])(implicit spark: SparkSession): Dataset[MatrixElement] = {
    import spark.implicits._
    val n = tf.agg(countDistinct($"y").cast("double").as("n_docs"))
    val df = tf.groupBy($"x").agg(count(lit(1)).cast("double").as("df"))
    tf.join(df, "x")
      .crossJoin(broadcast(n))
      .select($"y", $"x", ($"value" * log($"n_docs" / $"df")).as("value"))
      .as[MatrixElement]
  }

  /** docs → tokenize → (optional stop-word removal) → TF matrix, end to end. */
  def termFrequencyOf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      stopWords: Option[DataFrame] = None)(implicit spark: SparkSession): Dataset[MatrixElement] = {
    val t = tokens(docs, idCol, textCol)
    termFrequency(stopWords.fold(t)(removeStopWords(t, _)))
  }
}
