package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.Tokenizer
import graft.text.Tokenizer.tokensSql

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * statistics / quality scoring, language identification, token counting,
 * and order-sensitive document fingerprinting.
 *
 * Everything here is declarative Spark SQL (codegen'd, prunable — no UDFs,
 * SURVEY.md §4.3). The hash arithmetic is deliberately built from `ascii`/
 * `substr`/`length`/integer ops only ([[TextHash]]): those evaluate
 * identically in any ANSI SQL engine, which is what lets the driver's DuckDB
 * oracle check these operators exactly — murmur-style engine hashes would
 * not be comparable across engines.
 *
 * At 100 TB these are all embarrassingly parallel map-side operators: one
 * `explode` per document batch, one partial+final aggregate per doc — no
 * joins, no skew risk beyond document length itself.
 */
object TextAnalysis {

  /** English-ish stopword markers used by quality scoring. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /**
   * One row per token with its 0-based position in the document.
   * Empty tokens (leading separators) are dropped but keep their slot's
   * position, so the numbering is reproducible from the raw split.
   */
  def tokensWithPosition(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), Tokenizer.WhitespacePattern)).as(Seq("pos", "token")))
      .where(col("token") =!= "")

  /**
   * Per-document quality statistics: token counts, type-token ratio,
   * average token length, stopword ratio. The standard cheap quality
   * signals used to filter web-scale training corpora.
   */
  def stats(docs: DataFrame, idCol: String, textCol: String,
      keepCols: Seq[String] = Nil): DataFrame = {
    // Row-local HOFs over the token array, NOT explode + groupBy: the
    // per-document signals never leave their row, so the operator is a
    // pure codegen'd map stage — zero exchanges at any corpus size, and
    // it runs unchanged on unbounded streams (TextOpsStreamSpec).
    // Documents with no tokens are absent (see [[tokenArray]]).
    // `keepCols` ride along unchanged (an event-time column a stream
    // watermark needs, or the text for a later row-local gate).
    val stops = Stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    val signals = Seq(
      size(col("t")).cast("long").as("n_tokens"),
      size(array_distinct(col("t"))).cast("long").as("n_distinct"),
      (expr("aggregate(t, CAST(0 AS BIGINT), (a, x) -> a + length(x))").cast("double") /
        size(col("t"))).as("avg_token_len"),
      (expr(s"size(filter(t, x -> array_contains($stops, x)))").cast("double") /
        size(col("t"))).as("stopword_ratio"),
      (size(array_distinct(col("t"))).cast("double") / size(col("t"))).as("ttr"))
    tokenArray(docs, idCol, textCol, keepCols)
      .select(col("doc_id") +: keepCols.map(col) :++ signals: _*)
  }

  /** (doc_id, t): the document's tokens ([[Tokenizer.tokensSql]]) as ONE
    * array column — the row-local front half shared by [[stats]] /
    * [[langId]] / [[tokenCounts]] / [[blocklistGate]]. Token-less
    * documents (empty, whitespace-only or null text) are dropped. */
  private[ext] def tokenArray(docs: DataFrame, idCol: String, textCol: String,
      keepCols: Seq[String] = Nil): DataFrame =
    docs
      .select(col(idCol).as("doc_id") +: keepCols.map(col) :+
        expr(tokensSql(textCol)).as("t"): _*)
      .where(size(col("t")) > 0)

  /**
   * Composite C4/Gopher-style quality gate over [[stats]]'s cheap
   * signals: keep a document iff its token count, mean token length,
   * stopword ratio, and type-token ratio all sit inside the given
   * bounds. Returns the surviving documents with their signals, ready to
   * drive a corpus sweep (`kept.join(docs, "doc_id")`).
   *
   * Every signal is a single IEEE division of exactly-aggregated
   * integers, so the bound comparisons are bit-deterministic across
   * engines and reruns — no epsilon at the thresholds. Same
   * embarrassingly-parallel shape as [[stats]].
   */
  def qualityFilter(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 10, maxTokens: Long = 100000,
      minAvgTokenLen: Double = 2.0, maxAvgTokenLen: Double = 12.0,
      maxStopwordRatio: Double = 0.6, minTtr: Double = 0.2): DataFrame =
    stats(docs, idCol, textCol)
      .where(qualityPass(minTokens, maxTokens, minAvgTokenLen,
        maxAvgTokenLen, maxStopwordRatio, minTtr))

  /** The composite gate predicate over [[stats]] columns — ONE
    * definition shared by [[qualityFilter]] and
    * [[QualityModel.trainingFrame]]'s labels, so the distilled
    * classifier can never drift from the gate it distills. */
  def qualityPass(minTokens: Long, maxTokens: Long,
      minAvgTokenLen: Double, maxAvgTokenLen: Double,
      maxStopwordRatio: Double, minTtr: Double): Column =
    col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
      col("avg_token_len") >= minAvgTokenLen &&
      col("avg_token_len") <= maxAvgTokenLen &&
      col("stopword_ratio") <= maxStopwordRatio &&
      col("ttr") >= minTtr

  /** Per-language marker token sets for [[langId]]. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "que", "de", "una"))

  /**
   * Marker-token language identification: score each language by how many
   * of the document's tokens are in its marker set, predict the argmax
   * (ties broken in [[LangMarkers]] order). An n-gram-profile classifier
   * reduced to its relational core — deterministic and oracle-checkable.
   */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // marker hits counted row-locally (cf. [[stats]]) — map stage only
    val scoreCols = LangMarkers.map { case (lang, markers) =>
      val arr = markers.map(m => s"'$m'").mkString("array(", ", ", ")")
      expr(s"size(filter(t, x -> array_contains($arr, x)))")
        .cast("long").as(s"score_$lang")
    }
    val scored = tokenArray(docs, idCol, textCol)
      .select(col("doc_id") +: scoreCols: _*)
    val langs = LangMarkers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((lang, i), els) =>
        val isMax = langs.drop(i + 1)
          .map(o => col(s"score_$lang") >= col(s"score_$o"))
          .reduce(_ && _)
        when(isMax, lit(lang)).otherwise(els)
    }
    scored.withColumn("pred_lang", pred)
  }

  /**
   * Token counting: whitespace token count plus a BPE-ish subword estimate
   * (Σ ceil(len/4) — the ~4-chars-per-token heuristic used for budget
   * planning of LLM training corpora).
   */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // row-local HOF spelling (cf. [[stats]]) — map stage, no shuffle
    tokenArray(docs, idCol, textCol)
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("ws_tokens"),
        expr("aggregate(t, CAST(0 AS BIGINT), " +
          "(a, x) -> a + CAST(ceil(CAST(length(x) AS DOUBLE) / 4.0) AS BIGINT))")
          .as("subword_est"))

  /**
   * Corpus vocabulary heavy hitters: the `k` tokens with the highest
   * document frequency, totally ordered by (doc_freq desc, token asc) so
   * the cutoff set is deterministic — the vocabulary-building / corpus-
   * drift-monitoring primitive of a training-data pipeline.
   *
   * Scale shape: distinct (doc, token) then a token-keyed count are one
   * shuffle each with map-side partials; the global top-k plans as
   * TakeOrderedAndProject — each partition keeps its own k rows and only
   * k·partitions rows reach the driver-side heap, never a global sort of
   * the vocabulary.
   */
  def vocabTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0)
    tokensWithPosition(docs, idCol, textCol)
      .select(col("doc_id"), col("token")).distinct()
      .groupBy("token").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("token").asc)
      .limit(k)
  }

  /**
   * Tokenizer-coverage audit: per document, how many token OCCURRENCES
   * fall outside the corpus's top-`k` doc-frequency vocabulary
   * ([[vocabTopK]]'s deterministic (df desc, token) selection) — the
   * health check a pipeline runs before committing to a vocabulary:
   * documents with a high out-of-vocabulary share either need a bigger
   * vocab, a byte-fallback tokenizer, or are the wrong language/charset
   * for the corpus.
   *
   * Scale shape: the vocabulary is k rows BY CONSTRUCTION (a TakeOrdered
   * model artifact, not data), so its join is a broadcast by schema; the
   * token explode is a row-local map stage and the per-doc rollup is the
   * ONE fact-sized exchange. The OOV share is one exact-integer division
   * per doc.
   */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0)
    val vocab = vocabTopK(docs, idCol, textCol, k)
      .select(col("token").as("vtok"))
    tokensWithPosition(docs, idCol, textCol)
      .select(col("doc_id"), col("token"))
      .join(broadcast(vocab), col("token") === col("vtok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("vtok").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_share",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /**
   * Count–Min sketch vocabulary audit (Cormode & Muthukrishnan 2005,
   * "An improved data stream summary: the count-min sketch and its
   * applications") — the fixed-memory scale path for token counting:
   * `depth × width` counters replace the full vocabulary aggregate,
   * guaranteeing estimate ≥ true count with overestimate bounded by
   * collision mass (≈ 2·total/width with probability 1 − 2^−depth).
   * To make the trade INSPECTABLE, this operator probes the sketch with
   * the exact top-`k` tokens and reports, per token, the exact
   * occurrence count, the sketch estimate (min over the `depth` rows),
   * and the overcount — the calibration table a pipeline consults before
   * replacing its exact vocab aggregate with the sketch at 100 TB (where
   * the full vocab shuffle is the bottleneck and d·w counters fit in one
   * executor's L2).
   *
   * Every hash is the portable multiply-add-mod chain
   * ([[TextHash.tokenValue]] → [[Export.mixBucketSql]] with the row
   * index as salt) — deterministic and engine-neutral, so an oracle can
   * rebuild the identical sketch and the audit is reproducible anywhere.
   * Token-value collisions only ever ADD to a counter, so the
   * estimate ≥ exact invariant survives them.
   *
   * Scale shape: one pass over token occurrences exploded ×depth into
   * fixed-width (r, b) keys → ONE sketch aggregate with map-side
   * partials whose output is d·w rows (model-sized, never collected);
   * the exact top-k is a TakeOrdered (no global sort); probes are k·d
   * rows broadcast against the sketch. Nothing driver-side, nothing
   * corpus-sized past the scans.
   */
  def cmsVocabAudit(docs: DataFrame, idCol: String, textCol: String,
      depth: Int, width: Int, k: Int): DataFrame = {
    require(depth >= 1 && width > 0 && k > 0)
    require(depth < Export.MixMod, "row index is folded in as the salt")
    val toks = tokensWithPosition(docs, idCol, textCol)
      .select(col("token"), expr(TextHash.tokenValue("token")).as("v"))
    def buckets = cmsBucketStructs(depth, width)
    val sketch = cmsSketch(docs, idCol, textCol, depth, width)
    val exact = toks.groupBy("token", "v")
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token").asc)
      .limit(k)
    val probes = exact
      .select(col("token"), col("n_exact"), explode(array(buckets: _*)).as("rb"))
      .select(col("token"), col("n_exact"), col("rb.r").as("r"), col("rb.b").as("b"))
    sketch.join(broadcast(probes), Seq("r", "b"))
      .groupBy("token", "n_exact")
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("token"), col("n_exact"), col("cms_est"),
        (col("cms_est") - col("n_exact")).as("overcount"))
  }

  /** The (r, b) counter struct per sketch row — one expression per row
    * index, shared by the sketch build and the probe side so the two
    * hash spellings cannot drift. */
  private def cmsBucketStructs(depth: Int, width: Int) =
    (0 until depth).map { r =>
      expr(s"struct(CAST($r AS INT) AS r, " +
        s"CAST(${Export.mixBucketSql("v", width, r)} AS BIGINT) AS b)")
    }

  /**
   * The Count–Min sketch itself: (r, b, cnt) over `depth × width`
   * counters — the piece of [[cmsVocabAudit]] that is STREAM-NATIVE.
   * Counter increments commute, so the same function on an unbounded
   * stream (complete-mode aggregation) maintains the identical sketch
   * micro-batch by micro-batch, and its state is bounded at d·w rows BY
   * CONSTRUCTION — no watermark needed, unlike every vocabulary-keyed
   * aggregate (a streaming `vocabTopK` would hold the unbounded vocab).
   * Batch/stream parity is spec-pinned through a MemoryStream.
   */
  def cmsSketch(docs: DataFrame, idCol: String, textCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width > 0)
    tokensWithPosition(docs, idCol, textCol)
      .select(expr(TextHash.tokenValue("token")).as("v"))
      .select(explode(array(cmsBucketStructs(depth, width): _*)).as("rb"))
      .select(col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy("r", "b").agg(count(lit(1)).as("cnt"))
  }

  /**
   * Candidate-pair budget estimate for the doc-pair join, from a
   * Count–Min inner product (the AMS/CMS join-size estimator: for two
   * relations sharing a key, |R ⋈ S| = Σ_k f_R(k)·f_S(k), estimated as
   * min over sketch rows of Σ_b cntR·cntS — here R = S = the distinct
   * (doc, token) postings, so Σ_k f(k)² bounds the token-bucket
   * candidate join that every exact-Jaccard kernel and the df-cap
   * reason about: candidate pairs = (Σf² − N)/2). The estimate is an
   * UPPER bound (bucket collisions only add), so planning against it
   * is safe: a pair budget that fits under the sketch estimate fits
   * under the truth.
   *
   * Everything is integer arithmetic end to end — counts, squares,
   * sums, the min across sketch rows — so the audit row is exact and
   * engine-neutral (the oracle rebuilds the identical sketch from the
   * same portable hash chain). One row out: postings count, exact and
   * estimated Σf², the implied candidate-pair counts, and the
   * collision overcount.
   *
   * Scale shape: the SKETCH side is the 100 TB path — one pass over
   * postings exploded ×depth into fixed (r, b) keys, a d·w-row
   * aggregate, then a d-row per-row-sum and a 1-row min. The EXACT side
   * (vocabulary-sized Σf²) is the calibration audit; at full scale you
   * run the sketch alone and skip it. Both ends fold to 1-row frames
   * whose cross is the sanctioned scalar-broadcast shape.
   */
  def pairBudgetSketch(docs: DataFrame, idCol: String, textCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width > 0)
    val dt = tokensWithPosition(docs, idCol, textCol)
      .select(col(idCol), col("token")).distinct()
      .select(expr(TextHash.tokenValue("token")).as("v"))
    val sketch = dt
      .select(explode(array(cmsBucketStructs(depth, width): _*)).as("rb"))
      .select(col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy("r", "b").agg(count(lit(1)).as("cnt"))
    val est = sketch.groupBy("r")
      .agg(sum(col("cnt") * col("cnt")).as("s2"))
      .agg(min(col("s2")).as("est_sq"))
    val exact = dt.groupBy("v").agg(count(lit(1)).as("f"))
      .agg(sum(col("f")).as("n_postings"),
        sum(col("f") * col("f")).as("exact_sq"))
    exact.crossJoin(broadcast(est))
      .select(col("n_postings"), col("exact_sq"), col("est_sq"),
        expr("(exact_sq - n_postings) DIV 2").as("exact_pairs"),
        expr("(est_sq - n_postings) DIV 2").as("est_pairs"),
        (col("est_sq") - col("exact_sq")).as("overcount"))
  }

  /** Salt for the KMV hash — distinct from [[HllSalt]] so the two
    * cardinality sketches are hash-independent estimators. */
  val KmvSalt = 31337L

  /**
   * Language-consistency audit — the code-switching / wrong-language-
   * segment detector multilingual curation runs after document-level
   * [[langId]]: the document is cut into fixed `chunkTokens` chunks,
   * each chunk is language-identified independently (same marker
   * argmax, same tie order), and the per-document chunk-lang
   * distribution is summarized: chunk count, distinct predicted
   * languages, the majority language (most chunks; ties → smaller lang
   * code) and its share. A document whose majority share is low is
   * either genuinely mixed-language (split it, or route to a
   * multilingual bucket) or boilerplate-noisy — either way it is
   * exactly the document a per-doc language label silently mislabels.
   *
   * Scale shape: one map-side chunk assignment on the token stream
   * (pos DIV chunkTokens — row-local), ONE (doc, chunk)-keyed count
   * aggregate, one (doc, lang)-keyed re-aggregate of the chunk table,
   * and a per-doc argmax window whose partitions are bounded by the
   * LANGUAGE COUNT (≤ 4), never by document or corpus size.
   */
  def langConsistency(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1)
    val toks = tokensWithPosition(docs, idCol, textCol)
      .withColumn("chunk_id",
        (col("pos").cast("long") / chunkTokens).cast("long"))
    val scoreCols = LangMarkers.map { case (lang, markers) =>
      sum(when(col("token").isin(markers: _*), 1L).otherwise(0L))
        .as(s"score_$lang")
    }
    val scored = toks.groupBy("doc_id", "chunk_id")
      .agg(scoreCols.head, scoreCols.tail: _*)
    val langs = LangMarkers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((lang, i), els) =>
        val isMax = langs.drop(i + 1)
          .map(o => col(s"score_$lang") >= col(s"score_$o"))
          .reduce(_ && _)
        when(isMax, lit(lang)).otherwise(els)
    }
    val perLang = scored.withColumn("pred_lang", pred)
      .groupBy("doc_id", "pred_lang").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("c").desc, col("pred_lang").asc)
    perLang.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_chunks"),
        count(lit(1)).as("n_langs"),
        max(when(col("rn") === 1, col("pred_lang"))).as("majority_lang"),
        (max(when(col("rn") === 1, col("c"))).cast("double")
          / sum(col("c")).cast("double")).as("majority_share"))
  }

  /**
   * KMV (k-minimum-values, Bar-Yossef et al. 2002) distinct-count
   * sketch over the vocabulary, audited against the exact distinct
   * count — the fourth member of the sketch family (CMS frequencies,
   * HLL cardinality, histogram quantiles): keep the k smallest DISTINCT
   * hash values; with U_(k) = h_k/P the k-th order statistic of n
   * uniforms, n̂ = (k−1)/U_(k). Two things HLL's registers cannot give:
   * (a) the retained k rows ARE a uniform random sample of the distinct
   * domain (mergeable bottom-k — union two sketches, keep the k
   * smallest — so distributed sampling of a keyed domain rides the
   * sketch for free), and (b) an independent second cardinality path
   * (different salt, different estimator family) to cross-check
   * `vocab_hll_audit`. When the domain has ≤ k values the sketch holds
   * ALL of them and the estimate is exact by construction.
   *
   * Deterministic cross-engine: the hash chain is the portable
   * avalanche, the k-th min is integer, and the one division is IEEE.
   *
   * Scale shape: distinct-collapse then a k-row TakeOrdered (never a
   * global sort), a 1-row max/count, and the 1-row exact audit crossed
   * in — at full scale you keep the sketch and drop the audit, and the
   * bottom-k union-merges across partitions/streams by construction.
   */
  def kmvVocabAudit(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "the (k-1)/U_k estimator needs k >= 2")
    val tokens = tokensWithPosition(docs, idCol, textCol)
      .select(col("token")).distinct()
    val hs = tokens
      .select(expr(TextHash.avalancheSql(
        TextHash.tokenValue("token"), KmvSalt)).as("h"))
      .distinct()
    val kth = hs.orderBy(col("h").asc).limit(k)
      .agg(max(col("h")).as("kth_h"), count(lit(1)).as("k_eff"))
    val exact = tokens.agg(count(lit(1)).as("n_exact"))
    kth.crossJoin(broadcast(exact))
      .select(col("k_eff"), col("kth_h"),
        when(col("k_eff") < k, col("k_eff").cast("double"))
          .otherwise((col("k_eff") - 1).cast("double") * lit(TextHash.P31)
            / col("kth_h").cast("double")).as("est_distinct"),
        col("n_exact"))
  }

  /**
   * TextRank keyword scoring (Mihalcea & Tarau 2004) — the unsupervised
   * keyword extractor: tokens are nodes, consecutive CONTENT tokens
   * (length ≥ `minLen`, non-stopword — adjacency over the filtered
   * sequence, the standard formulation) are co-occurrence edges
   * weighted by corpus-wide count, and a token's keyword score is its
   * PageRank in that graph. Corpus-level rather than per-document: one
   * graph over the whole corpus gives the topic lexicon (per-doc
   * keywords are then the doc's tokens ranked by this score). Returns
   * every node's (token, rank) — no top-k cut, so downstream choosers
   * see the full distribution and the contract needs no tie policy.
   * Equal adjacent tokens are skipped (a self-loop is pure rank
   * self-feedback, signal-free). Isolated content tokens (no content
   * neighbor anywhere) have no edges and thus no node — documented.
   *
   * Scale shape: adjacency via ONE `lead` window over (doc, pos) — a
   * single exchange keyed by doc, partitions bounded by document
   * length, never a self-join on pos+1 — then a vocabulary²-bounded
   * (in practice edge-sparse) count aggregate, symmetrize + one more
   * aggregate, and [[Graph.pageRank]]: two setup actions, then one
   * checkpointed edge-join/aggregate per round.
   */
  def textRank(docs: DataFrame, idCol: String, textCol: String,
      iters: Int, damping: Double = 0.85, minLen: Int = 3,
      stopWords: Seq[String] = Stopwords): DataFrame = {
    val kept = tokensWithPosition(docs, idCol, textCol)
      .where(length(col("token")) >= minLen &&
        !col("token").isin(stopWords: _*))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val e0 = kept
      .withColumn("next", lead(col("token"), 1).over(w))
      .where(col("next").isNotNull && col("next") =!= col("token"))
      .groupBy(col("token").as("src"), col("next").as("dst"))
      .agg(count(lit(1)).as("weight"))
    val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy("src", "dst").agg(sum(col("weight")).as("weight"))
    Graph.pageRank(edges, iters, damping)
      .select(col("node").as("token"), col("rank"))
  }

  /**
   * Temperature-based mixture weighting (the multilingual/data-mixture
   * sampling rule of mT5/XLM-R-style training: sample group i with
   * probability ∝ n_i^τ) — the step that turns [[corpusMix]]'s budget
   * table into actual per-source allocations. τ = 1 reproduces natural
   * proportions; τ → 0 approaches uniform; the usual 0.3–0.7 range
   * up-samples small sources without letting any dominate. Per group:
   * token count, normalized weight, the token allocation out of
   * `budgetTokens`, and the implied epochs over that group
   * (allocation / size — the over-sampling factor small sources pay in
   * repetition).
   *
   * Scale shape: one token-count aggregate keyed by group (map-side
   * partials), then the 1-row Σ n^τ scalar broadcast-crossed back over
   * the groups-sized table — the sanctioned scalar-broadcast shape
   * ([[unigramLogProb]], BM25's corpus stats). The one transcendental
   * (pow with fractional τ) differs across engines at most in the last
   * ulp, absorbed by the 1e-6 result grid.
   */
  def temperatureMix(docs: DataFrame, groupCol: String, textCol: String,
      tau: Double, budgetTokens: Long): DataFrame = {
    require(tau > 0.0 && budgetTokens > 0)
    val sizes = tokenArray(docs, groupCol, textCol)
      .groupBy(col("doc_id").as("grp"))
      .agg(sum(size(col("t"))).cast("long").as("n_tokens"))
    val z = sizes.agg(sum(pow(col("n_tokens").cast("double"), tau)).as("z"))
    sizes.crossJoin(broadcast(z))
      .select(col("grp"), col("n_tokens"),
        (pow(col("n_tokens").cast("double"), tau) / col("z")).as("weight"),
        (lit(budgetTokens.toDouble) * pow(col("n_tokens").cast("double"), tau) /
          col("z")).as("alloc_tokens"),
        (lit(budgetTokens.toDouble) * pow(col("n_tokens").cast("double"), tau) /
          col("z") / col("n_tokens").cast("double")).as("epochs"))
  }

  /**
   * Data-constrained epoch allocation (the repetition-budget planner of
   * Muennighoff et al. 2023, "Scaling Data-Constrained Language Models"):
   * [[temperatureMix]]'s n^τ rule says how a token budget WANTS to split
   * across sources, but repeating a small source beyond a few epochs has
   * sharply diminishing value — so each source's intake is CAPPED at
   * `maxEpochs` × its unique tokens and the freed budget is
   * redistributed to the uncapped sources. This is the EXACT water-fill,
   * not an iterative approximation: with sources sorted by
   * r_d = cap_d / w_d ascending, the saturated set is a prefix, and row
   * d saturates iff r_d ≤ λ(d) where λ(d) = (B − Σ_{≤d} cap) /
   * (W − Σ_{≤d} w) — the water level if everything up to and including d
   * is capped. The final level λ* recomputes from the flagged set, and
   * alloc_d = saturated ? cap_d : λ*·w_d, so Σ alloc = min(B, Σ cap)
   * exactly. Both r and λ snap to the 1e-6 grid BEFORE the comparison
   * (the snap-before-the-cut convention), so the saturation frontier is
   * engine-exact despite pow's last-ulp differences.
   *
   * Output per source: unique tokens, normalized weight, the epoch cap
   * in tokens, the saturation flag, the allocated tokens and the implied
   * epochs (≤ maxEpochs by construction).
   *
   * Scale shape: one token-count aggregate keyed by source (map-side
   * partials) — the ONLY data-sized stage; everything after operates on
   * the sources-sized frame (one unpartitioned window sort + two 1-row
   * scalar broadcasts, the sanctioned shape). The cumulative sums run in
   * a total order (r asc, grp asc) shared with the oracle, so the
   * prefix doubles are bit-identical across engines.
   */
  def epochsPlan(docs: DataFrame, groupCol: String, textCol: String,
      tau: Double, budgetTokens: Long, maxEpochs: Double): DataFrame = {
    require(tau > 0.0 && budgetTokens > 0 && maxEpochs > 0.0)
    val snap6 = (c: org.apache.spark.sql.Column) =>
      floor(c * lit(1e6) + lit(0.50001)) / lit(1e6)
    val sizes = tokenArray(docs, groupCol, textCol)
      .groupBy(col("doc_id").as("grp"))
      .agg(sum(size(col("t"))).cast("long").as("n_tokens"))
      .withColumn("w", pow(col("n_tokens").cast("double"), tau))
      .withColumn("cap_tokens", col("n_tokens").cast("double") * lit(maxEpochs))
      .withColumn("r", snap6(col("cap_tokens") / col("w")))
    val tot = sizes.agg(sum("w").as("w_total"), sum("cap_tokens").as("cap_total"))
    val ord = Window.orderBy(col("r").asc, col("grp").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = sizes.crossJoin(broadcast(tot))
      .withColumn("cum_cap", sum("cap_tokens").over(ord))
      .withColumn("cum_w", sum("w").over(ord))
      .withColumn("saturated",
        when(col("w_total") - col("cum_w") > 0.0,
          col("r") <= snap6((lit(budgetTokens.toDouble) - col("cum_cap")) /
            (col("w_total") - col("cum_w"))))
          .otherwise(col("cap_total") <= lit(budgetTokens.toDouble)))
    val level = flagged.agg(
      (lit(budgetTokens.toDouble) -
        sum(when(col("saturated"), col("cap_tokens")).otherwise(lit(0.0)))).as("b_rem"),
      sum(when(col("saturated"), lit(0.0)).otherwise(col("w"))).as("w_rem"))
    flagged.crossJoin(broadcast(level))
      .withColumn("lambda",
        when(col("w_rem") > 0.0, col("b_rem") / col("w_rem")).otherwise(lit(0.0)))
      .withColumn("alloc_tokens",
        when(col("saturated"), col("cap_tokens"))
          .otherwise(col("lambda") * col("w")))
      .select(col("grp"), col("n_tokens"),
        snap6(col("w") / col("w_total")).as("weight"),
        col("cap_tokens"), col("saturated"),
        snap6(col("alloc_tokens")).as("alloc_tokens"),
        snap6(col("alloc_tokens") / col("n_tokens").cast("double")).as("epochs"))
  }

  /**
   * Blocklist density gate (the C4 "bad words" filter, Raffel et al.
   * 2020): count each document's tokens that hit a blocklist and gate on
   * the hit DENSITY rather than any-hit — a single incidental term in a
   * long document survives, a concentrated page does not. Emits the
   * per-doc token count, hit count, density and the gate flag; density
   * snaps to the 1e-6 grid BEFORE the cut so the flag is engine-exact.
   *
   * Scale shape: ZERO-exchange row-local — the token split, the
   * membership count and the density all fold into one higher-order-
   * function projection (no explode, no aggregate, no shuffle), so the
   * operator is also STATELESS-STREAM-SAFE: apply it unchanged to a
   * readStream frame (the pattern set rides the plan as a literal
   * array). A blocklist too large for a literal (10⁵+ phrases) becomes a
   * broadcast left-semi join against a pattern table — one explode + one
   * doc-keyed aggregate + one dim-sized broadcast; this entry point is
   * the in-plan form. Docs whose text splits to zero tokens are dropped,
   * matching [[tokenArray]]'s convention.
   */
  def blocklistGate(docs: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String], maxDensity: Double): DataFrame = {
    require(patterns.nonEmpty, "patterns must be non-empty")
    require(maxDensity >= 0.0, s"maxDensity must be >= 0, got $maxDensity")
    // patterns enter as Column LITERALS, never spliced into SQL text:
    // Spark string literals are backslash-escaped (NOT SQL-standard ''
    // doubling — 'it''s' parses as adjacent literals 'its'), so any
    // quoting scheme written into expr() silently mis-parses some
    // pattern; lit() sidesteps parsing entirely
    val patArr = array(patterns.map(lit): _*)
    tokenArray(docs, idCol, textCol)
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(filter(col("t"), x => array_contains(patArr, x)))
          .cast("long").as("n_hits"))
      .select(col("doc_id"), col("n_tokens"), col("n_hits"),
        snapCol(col("n_hits").cast("double") / col("n_tokens").cast("double"))
          .as("density"),
        (snapCol(col("n_hits").cast("double") / col("n_tokens").cast("double"))
          > lit(maxDensity)).as("blocked"))
  }

  /** Dimensionality of the hashing-trick document vectors — small enough
    * that a dense codebook/centroid over it is trivially model-sized,
    * large enough that the synthetic vocab doesn't saturate every
    * bucket. Contract constant (the oracle mirrors it). */
  val FeatureHashDim = 64
  /** Salt of the feature-hash bucket chain. */
  val FeatureHashSalt = 31337L

  /**
   * Feature hashing (the "hashing trick", Weinberger et al. 2009): each
   * document becomes a `dim`-dimensional term-frequency vector with
   * bucket = avalanche-hash(token) mod dim — the bridge from unbounded
   * text to EVERY fixed-dimension operator in this library. Emitted in
   * sparse long form (doc_id, j, tf), which is exactly the cosine core's
   * COO matrix shape: feed [[featureHashMatrix]] straight into
   * [[graft.core.CosineAnalysis.fit]], [[graft.ext.SparseAnn]], or
   * k-means over [[Embeddings]] — text corpora get similarity search and
   * clustering with NO external embedding model.
   *
   * Why this is the 100 TB shape: a learned vocabulary (tf_matrix's x =
   * token string) grows with the corpus and needs a dictionary
   * broadcast; the hashed bucket space is FIXED at `dim` forever, with
   * the usual collision trade (Σ colliding tokens share a bucket —
   * inner products are preserved in expectation). One map stage + one
   * (doc, bucket)-keyed aggregate with map-side partials; `dim` bounds
   * every downstream dense structure.
   */
  def featureHash(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = FeatureHashDim): DataFrame = {
    require(dim > 0)
    tokensWithPosition(docs, idCol, textCol)
      .select(col("doc_id"), expr(
        s"CAST((${TextHash.avalancheSql(TextHash.tokenValue("token"), FeatureHashSalt)}) % $dim AS BIGINT)")
        .as("j"))
      .groupBy("doc_id", "j")
      .agg(count(lit(1)).cast("double").as("tf"))
  }

  /** [[featureHash]] as the cosine core's typed COO matrix. */
  def featureHashMatrix(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = FeatureHashDim): org.apache.spark.sql.Dataset[graft.core.MatrixElement] = {
    val spark = docs.sparkSession
    import spark.implicits._
    featureHash(docs, idCol, textCol, dim)
      .select(col("doc_id").cast("string").as("y"),
        col("j").cast("string").as("x"), col("tf").as("value"))
      .as[graft.core.MatrixElement]
  }

  /** Hashed-feature space of the DSIR importance model. Coarser than a
    * vocabulary (collisions pool rare tokens' evidence — the point of
    * Xie et al. 2023's hashed n-gram features), large enough that the
    * target/raw ratio still separates sources. Contract constant. */
  val DsirDim = 128
  /** Salt of the DSIR bucket chain (independent of featureHash buckets). */
  val DsirSalt = 99991L

  /**
   * DSIR importance weights (Data Selection via Importance Resampling,
   * Xie et al. 2023): fit two bag-of-hashed-unigram language models — one
   * on the TARGET slice (`srcCol = target`), one on the RAW rest — and
   * score every document with its log importance ratio
   * `Σ_tokens log p_target(bucket) / p_raw(bucket)` (add-1 smoothed).
   * Resampling then keeps the raw documents whose weight ranks highest —
   * the standard recipe for steering a web-scale crawl toward a small
   * high-quality domain without training a classifier. Emits one row per
   * document: its slice label, token count, and log weight.
   *
   * Scale: one tokenize scan folds to a (doc, bucket) term-frequency
   * aggregate (map-side partials); BOTH language models are `dim`-row
   * aggregates of that — model-sized, never a vocabulary broadcast — and
   * the scoring join is a `dim`-row broadcast back onto the doc×bucket
   * frame. No data-sized structure ever crosses the driver, and the
   * feature space stays fixed at any corpus size (same argument as
   * [[featureHash]]). The tf frame feeds the LM counts AND the scoring
   * join; without `pin`, Catalyst's per-branch column pruning defeats
   * exchange reuse and the corpus is tokenized three times — pass
   * `pin = _.localCheckpoint()` (the SparseAnn convention) to
   * materialize the token-aggregate-sized frame once.
   */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, target: String, dim: Int = DsirDim,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    require(dim > 0)
    val bucket = expr(s"CAST((${TextHash.avalancheSql(TextHash.tokenValue("token"), DsirSalt)}) % $dim AS BIGINT)")
    val dtf = pin(docs
      .select(col(idCol).as("doc_id"),
        when(col(srcCol) === target, 1L).otherwise(0L).as("is_target"),
        explode(expr(tokensSql(textCol))).as("token"))
      .select(col("doc_id"), col("is_target"), bucket.as("j"))
      .groupBy("doc_id", "is_target", "j")
      .agg(count(lit(1)).as("tf")))
    val counts = dtf.groupBy("j").agg(
      sum(when(col("is_target") === 1L, col("tf")).otherwise(0L)).as("ct"),
      sum(when(col("is_target") === 0L, col("tf")).otherwise(0L)).as("cr"))
    val logRatio = counts
      .crossJoin(broadcast(counts.agg(sum("ct").as("tt"), sum("cr").as("tr"))))
      .select(col("j"),
        (log((col("ct") + lit(1L)).cast("double") / (col("tt") + lit(dim.toLong)).cast("double")) -
          log((col("cr") + lit(1L)).cast("double") / (col("tr") + lit(dim.toLong)).cast("double")))
          .as("lw"))
    dtf
      .join(broadcast(logRatio), "j")
      .groupBy("doc_id", "is_target")
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf").cast("double") * col("lw")).as("log_weight"))
  }

  /**
   * Fit the DSIR importance model as a dense `dim`-length log-ratio
   * table — the "train offline" half of the deploy story ([[dsirScore]]
   * is the "score online" half). Buckets unseen in EITHER slice get the
   * add-1 smoothed default `ln((tr+dim)/(tt+dim))` — exactly what the
   * formula assigns to zero counts — so a NEW document (a live crawl
   * stream) whose token hashes into a bucket the training corpus never
   * touched still scores, which the join-based [[dsirWeights]] never
   * has to handle (every training token's bucket is in its own counts).
   *
   * A `dim`-row collect is the sanctioned model-sized eager fit (the
   * k-means / PQ-codebook convention): the table is 128 doubles
   * regardless of corpus size.
   */
  def dsirFit(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, target: String, dim: Int = DsirDim): Array[Double] = {
    require(dim > 0)
    val bucket = expr(s"CAST((${TextHash.avalancheSql(TextHash.tokenValue("token"), DsirSalt)}) % $dim AS BIGINT)")
    val counts = docs
      .select(when(col(srcCol) === target, 1L).otherwise(0L).as("is_target"),
        explode(expr(tokensSql(textCol))).as("token"))
      .select(col("is_target"), bucket.as("j"))
      .groupBy("j").agg(
        sum(col("is_target")).as("ct"),
        sum(lit(1L) - col("is_target")).as("cr"))
      .collect()
      .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    val tt = counts.valuesIterator.map(_._1).sum
    val tr = counts.valuesIterator.map(_._2).sum
    Array.tabulate(dim) { j =>
      val (ct, cr) = counts.getOrElse(j, (0L, 0L))
      math.log((ct + 1.0) / (tt + dim)) - math.log((cr + 1.0) / (tr + dim))
    }
  }

  /**
   * Score documents against a fitted DSIR table ([[dsirFit]]) — the
   * "score online" half: the table folds into the plan as a `dim`-element
   * array LITERAL and the score is a row-local HOF fold over the token
   * array. ZERO exchanges, zero state, no broadcast even — a pure
   * codegen'd map stage that runs unchanged on an unbounded stream
   * (DsirKanonBotsSpec pins stream parity), which is how a live crawl
   * filter actually deploys DSIR. Doubles round-trip through their
   * shortest decimal string (exact by Double.toString's contract), so
   * the literal table is bit-identical to the fitted one.
   */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
      lw: Array[Double], dim: Int = DsirDim): DataFrame = {
    require(lw.length == dim, s"table length ${lw.length} != dim $dim")
    val arr = lw.map(v => s"CAST('$v' AS DOUBLE)").mkString("array(", ", ", ")")
    val bucketX =
      s"CAST((${TextHash.avalancheSql(TextHash.tokenValue("x"), DsirSalt)}) % $dim AS INT) + 1"
    docs
      .select(col(idCol).as("doc_id"),
        expr(tokensSql(textCol)).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr(s"aggregate(toks, CAST(0.0 AS DOUBLE), (a, x) -> a + element_at($arr, $bucketX))")
          .as("log_weight"))
  }

  /**
   * The DSIR selection step: keep the `m` RAW documents whose importance
   * weight ranks highest ([[dsirWeights]] descending, doc_id tie-break) —
   * the resampled slice a target-steered training mix actually ingests.
   * Ranking reads the 1e-6-SNAPPED weight, so the order (and thus the
   * kept set) is identical on any engine despite sum-order ulps.
   *
   * Scale: the global top-m is TakeOrdered — per-partition heaps of m,
   * one m-row merge, never a global sort; the rank window then runs over
   * the m-row result (model-sized by construction).
   */
  def dsirSample(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, target: String, m: Int, dim: Int = DsirDim,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    require(m > 0)
    val raw = dsirWeights(docs, idCol, textCol, srcCol, target, dim, pin)
      .where(col("is_target") === 0L)
      .select(col("doc_id"), snapCol(col("log_weight")).as("log_weight"))
    val order = Seq(col("log_weight").desc, col("doc_id").asc)
    raw.orderBy(order: _*).limit(m)
      .withColumn("rank", row_number()
        .over(org.apache.spark.sql.expressions.Window.orderBy(order: _*))
        .cast("long"))
  }

  /**
   * k-anonymity audit over a 3-level generalization hierarchy of the
   * quasi-identifiers (`qi1`, `qi2`, `numCol` bucketed at `width`): one
   * ROLLUP pass counts every QI equivalence class at full precision
   * (level 0), with the numeric bucket generalized away (level 1), and
   * with `qi2` also dropped (level 2); a class of size < k re-identifies
   * its members under linkage. Emits one row per level — class count,
   * risky-class count, rows at risk (with share), and the smallest class
   * — the table a release/retention decision reads to pick the cheapest
   * generalization level that clears its k threshold.
   *
   * Scale: ROLLUP is ONE shuffled aggregate whose map-side partials carry
   * all three levels (3× the level-0 partial rows, still bounded by QI
   * cardinality, never by corpus size); the level summary is a 3-row
   * re-aggregate. The risky flag and row counts are pure int64; only the
   * share divides.
   */
  def kAnonymity(docs: DataFrame, qi1: String, qi2: String, numCol: String,
      width: Long, k: Long): DataFrame = {
    require(width > 0 && k > 0)
    val risky = sum(when(col("n") < k, col("n")).otherwise(0L))
    docs
      .select(col(qi1).as("qi1"), col(qi2).as("qi2"),
        expr(s"CAST($numCol AS BIGINT) div $width").as("qi3"))
      .rollup("qi1", "qi2", "qi3")
      .agg(count(lit(1)).as("n"),
        (grouping(col("qi1")) + grouping(col("qi2")) + grouping(col("qi3")))
          .cast("long").as("level"))
      .where(col("level") < 3)
      .groupBy("level")
      .agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("risky_groups"),
        risky.as("rows_at_risk"),
        min("n").as("min_group"),
        (risky.cast("double") / sum(col("n")).cast("double")).as("risk_share"))
  }

  /**
   * The enforcement step to [[kAnonymity]]'s audit: release each row's
   * quasi-identifiers at the CHEAPEST generalization level whose
   * equivalence class reaches k — full (lang, source, bucket) when the
   * exact class is big enough, the bucket generalized to −1 when only
   * (lang, source) clears k, source also masked to `"*"` when only the
   * language class clears, and the row fully suppressed (level 3)
   * when even that fails. Classic global-recoding k-anonymization with
   * the standard `*` / −1 suppression sentinels (never NULL — the
   * release stays join-safe and engine-hash-stable). Per-row minimality
   * holds because class counts are monotone up the lattice: a row's
   * level-1 class contains its level-0 class.
   *
   * Scale: three class-count aggregates (bounded by QI cardinality,
   * map-side partials) joined back on their natural keys — the coarser
   * two broadcast by size — then a pure row-local level pick. No
   * row-level state, no window.
   */
  def kAnonymize(docs: DataFrame, idCol: String, qi1: String, qi2: String,
      numCol: String, width: Long, k: Long): DataFrame = {
    require(width > 0 && k > 0)
    val base = docs.select(col(idCol).as("doc_id"), col(qi1).as("qi1"),
      col(qi2).as("qi2"), expr(s"CAST($numCol AS BIGINT) div $width").as("qi3"))
    val c0 = base.groupBy("qi1", "qi2", "qi3").agg(count(lit(1)).as("n0"))
    val c1 = base.groupBy("qi1", "qi2").agg(count(lit(1)).as("n1"))
    val c2 = base.groupBy("qi1").agg(count(lit(1)).as("n2"))
    val level = when(col("n0") >= k, 0L).when(col("n1") >= k, 1L)
      .when(col("n2") >= k, 2L).otherwise(3L)
    base
      .join(c0, Seq("qi1", "qi2", "qi3"))
      .join(broadcast(c1), Seq("qi1", "qi2"))
      .join(broadcast(c2), Seq("qi1"))
      .select(col("doc_id"), level.as("level"),
        when(level <= 2L, col("qi1")).otherwise(lit("*")).as("rel_lang"),
        when(level <= 1L, col("qi2")).otherwise(lit("*")).as("rel_source"),
        when(level === 0L, col("qi3")).otherwise(lit(-1L)).as("rel_bucket"))
  }

  /** HyperLogLog geometry: 2^6 = 64 registers; the 31-bit mix state
    * leaves 25 bits of geometric evidence per token. Constants are part
    * of the operator contract (the oracle mirrors them). */
  val HllM = 64
  val HllWBits = 25
  /** Flajolet et al. 2007's bias constant for m = 64. */
  val HllAlpha = 0.709
  /** Salt folded into the mix chain so HLL buckets are independent of
    * every other mixBucket consumer. */
  val HllSalt = 77777L

  /**
   * Full 31-bit avalanche hash state for HLL ([[TextHash.avalancheSql]]
   * with the HLL salt). The affine mix alone is an LCG — linear, zero
   * avalanche — and HLL's geometric statistic reads individual BITS: on
   * structured inputs (token values are arithmetic in length/probe
   * chars) the affine image is an arithmetic progression whose low bits
   * are lattice-locked, biasing every register (measured: +88% on a
   * 200-token fixture). The squaring rounds fix that portably.
   */
  def hllH2Sql(v: String): String = TextHash.avalancheSql(v, HllSalt)

  /** Position of the lowest set bit of `w` (1-based; ${HllWBits}+1 for
    * w = 0) — the geometric register evidence, as a pure integer CASE
    * chain both engines evaluate identically (no float log2). */
  def hllRhoSql(w: String): String = {
    val cases = (1 to HllWBits)
      .map(k => s"WHEN ($w) % ${1L << k} = ${1L << (k - 1)} THEN $k")
      .mkString(" ")
    s"CASE WHEN ($w) = 0 THEN ${HllWBits + 1} $cases END"
  }

  /** 2^-mj as exact literals (shortest-roundtrip doubles — both engines
    * parse them back to the identical bit pattern), so the register sum
    * is a sum of dyadic rationals: EXACT in any order, in any engine. */
  def hllInvPowSql(mj: String): String = {
    val cases = (1 to HllWBits + 1)
      .map(k => s"WHEN ($mj) = $k THEN ${1.0 / (1L << k)}")
      .mkString(" ")
    s"CAST(CASE $cases ELSE 1.0 END AS DOUBLE)"
  }

  /**
   * HyperLogLog register table per group: (grp, j, mj) where mj is the
   * max lowest-set-bit position among the group's token hashes landing
   * in register j. The sketch half of [[hllVocabAudit]], and — like
   * [[cmsSketch]] — STREAM-NATIVE: register maxes commute, so the same
   * aggregation on an unbounded stream (complete mode) maintains the
   * identical sketch with state bounded at groups × 64 rows BY
   * CONSTRUCTION, where any exact distinct count would hold the
   * unbounded vocabulary itself.
   */
  def hllSketch(docs: DataFrame, groupCol: String, textCol: String): DataFrame =
    tokensWithPosition(docs, groupCol, textCol)
      .select(col("doc_id").as("grp"),
        expr(hllH2Sql(TextHash.tokenValue("token"))).as("h2"))
      .select(col("grp"), expr(s"CAST(h2 % $HllM AS BIGINT)").as("j"),
        expr(hllRhoSql(s"CAST((h2 - h2 % $HllM) / $HllM AS BIGINT)")).as("rho"))
      .groupBy("grp", "j").agg(max(col("rho")).as("mj"))

  /**
   * HyperLogLog distinct-token audit per group (Flajolet, Fusy,
   * Gandouet & Meunier 2007) — the cardinality sibling of
   * [[cmsVocabAudit]]'s frequency sketch, closing the classic sketch
   * pair: per group, the exact distinct hash-input count, the 64-register
   * HLL estimate (with the paper's small-range linear-counting
   * correction), live register count, and the relative error. The audit
   * that calibrates "how many registers does production need" BEFORE a
   * 100 TB run replaces exact count-distincts with sketches.
   *
   * Everything before the final ln is exact integer or exact dyadic
   * arithmetic (see [[hllInvPowSql]]), so both engines compute
   * bit-identical register sums; the one transcendental (alpha·m²/Z, and
   * ln(m/V) in the small-range branch) differs at most in the last ulp,
   * absorbed by the 1e-6 result grid.
   *
   * Branch coverage note: the synthetic contract corpus carries only 31
   * distinct tokens TOTAL, so every contract group sits in the
   * small-range linear-counting regime regardless of grouping; the raw
   * alpha·m²/Z estimator branch is exercised by HllAuditSpec's
   * 200-token-per-group fixture (both branches are therefore pinned,
   * one by the oracle, one by the spec).
   *
   * Scale shape: ONE aggregate keyed (group, register) over the token
   * scan — map-side partials collapse everything to ≤ 64 rows per group
   * — then group-sized arithmetic. The exact branch here exists FOR the
   * audit; production at scale runs the sketch alone.
   */
  def hllVocabAudit(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val tok = tokensWithPosition(docs, groupCol, textCol)
      .select(col("doc_id").as("grp"),
        expr(TextHash.tokenValue("token")).as("v"))
    val exact = tok.groupBy("grp").agg(countDistinct(col("v")).as("n_exact"))
    val est = hllEstimateFromRegisters(hllSketch(docs, groupCol, textCol), Seq("grp"))
    exact.join(est, "grp")
      .select(col("grp"), col("n_exact"), col("n_nonzero"), col("hll_est"),
        ((col("hll_est") - col("n_exact")) / col("n_exact")).as("rel_err"))
  }

  /**
   * The readout half of the HLL pair, factored so ANY register table can
   * be estimated — [[hllSketch]]'s batch output, a merged union of
   * several sketches (re-max per (keys, j) first), or the streaming
   * register sink ([[graft.streaming.EventsStream.hourlyUniquesHll]]):
   * per key group, live register count, the FFGM alpha·m²/Z estimate
   * with the small-range linear-counting branch, from exact dyadic
   * register sums ([[hllInvPowSql]] — order- and engine-independent).
   */
  def hllEstimateFromRegisters(regs: DataFrame, keyCols: Seq[String],
      mjCol: String = "mj"): DataFrame = {
    require(keyCols.nonEmpty)
    regs
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_nonzero"),
        sum(expr(hllInvPowSql(mjCol))).as("z_live"))
      .withColumn("z",
        col("z_live") + (lit(HllM) - col("n_nonzero")).cast("double"))
      .withColumn("e_raw", lit(HllAlpha * HllM * HllM) / col("z"))
      .withColumn("hll_est",
        when(col("e_raw") <= lit(2.5 * HllM) && col("n_nonzero") < lit(HllM),
          lit(HllM.toDouble) * log(lit(HllM.toDouble) /
            (lit(HllM) - col("n_nonzero")).cast("double")))
          .otherwise(col("e_raw")))
      .drop("z_live", "z", "e_raw")
  }

  /**
   * Gopher/C4-style repetition quality signals per document, over word
   * bigrams (this corpus is single-line, so line-level repetition rules
   * degenerate — the n-gram form is the general one anyway): total and
   * distinct bigram counts, the most frequent bigram's share of all
   * occurrences, and the fraction of occurrences that are repeats. High
   * shares flag boilerplate/template documents for corpus filtering.
   *
   * Join-free: bigrams are assembled inside each row with array HOFs
   * (linear in document length), then counted with one partial+final
   * aggregate keyed by doc — same embarrassingly-parallel shape as
   * [[stats]]. Documents with fewer than two tokens have no bigrams and
   * produce no row (both engines drop them identically at the explode).
   * The frac columns are single IEEE divisions of identical integers, so
   * they are bit-identical across engines even before the 1e-6 snap.
   */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Row-local like [[stats]]: the per-document bigram multiset never
    // leaves its row. The top-bigram count is the longest equal run of
    // the SORTED bigram array — one array_sort + one linear fold instead
    // of a (doc, bigram)-keyed shuffle; O(n log n) per document, zero
    // exchanges at any corpus size (plan-pinned), stream-native.
    val bigramsExpr =
      "transform(sequence(0, size(w) - 2), " +
        "i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2)))"
    val topRun =
      """aggregate(
        |  array_sort(bg),
        |  named_struct('prev', CAST(NULL AS STRING),
        |               'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
        |  (s, x) -> IF(s.prev IS NOT NULL AND x = s.prev,
        |    named_struct('prev', x, 'run', s.run + 1,
        |                 'best', greatest(s.best, s.run + 1)),
        |    named_struct('prev', x, 'run', CAST(1 AS BIGINT),
        |                 'best', greatest(s.best, CAST(1 AS BIGINT)))),
        |  s -> s.best)""".stripMargin
    docs
      .select(col(idCol).as("doc_id"),
        expr(tokensSql(textCol)).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), expr(bigramsExpr).as("bg"))
      .select(
        col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bg"))).cast("long").as("n_distinct_bigrams"),
        expr(topRun).as("top_bigram_count"),
        (expr(topRun).cast("double") / size(col("bg"))).as("top_bigram_frac"),
        ((size(col("bg")) - size(array_distinct(col("bg")))).cast("double") /
          size(col("bg"))).as("dup_bigram_frac"))
  }

  /**
   * Exact per-group discrete quantiles (type 1: the value at rank
   * `1 + floor(q·(n−1))`) of a numeric column — how quality-filter
   * thresholds get calibrated per language/source before a corpus sweep.
   * Deliberately NOT `approx_percentile`: sketch quantiles are
   * engine-specific, these are deterministic and cross-engine exact.
   *
   * Scale shape: one rank window per group (single shuffle keyed by the
   * group), a tiny counts×quantiles target table joined back by
   * (group, rank). Rank ties are broken arbitrarily but the value AT a
   * rank is order-independent, so the result is still deterministic.
   */
  def quantiles(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1))
    val ranked = df.select(col(groupCol).as("grp"), col(valueCol).as("v"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy(col("v"))))
    val counts = ranked.groupBy("grp").agg(max(col("rn")).as("n"))
    // quantile points as an exploded literal array — a crossJoin against a
    // literal table would plan a (harmless but noisy) BNLJ node
    val targets = counts
      .select(col("grp"), col("n"), explode(array(qs.map(lit): _*)).as("q"))
      .select(col("grp"), col("q"),
        (lit(1) + floor(col("q") * (col("n") - 1))).cast("long").as("rn"))
    targets.join(ranked, Seq("grp", "rn"))
      .select(col("grp").as(groupCol), col("q"), col("v").as(s"${valueCol}_q"))
  }

  /**
   * Histogram quantile sketch — the bounded-state scale path [[quantiles]]
   * deliberately isn't: fixed-width value buckets, one count per occupied
   * (group, bucket), quantile answered at the lower edge of the bucket
   * whose cumulative count first reaches the exact type-1 rank. The
   * sketch state is histogram-sized (value-range / width counters per
   * group, not n rows), MERGEABLE (bucket counts add — shards and stream
   * micro-batches combine losslessly, unlike rank windows), and fully
   * deterministic: unlike `approx_percentile`'s engine-specific GK
   * sketch, every arithmetic step here is exact integer SQL a DuckDB
   * oracle replays bit-for-bit. Completes the sketch triad: CMS
   * (frequency), HLL (cardinality), histogram (quantiles).
   *
   * Error contract: with v_q the exact type-1 quantile, the returned
   * edge is `floor(v_q / width) · width` — the chosen bucket IS v_q's
   * bucket (the cumulative count first crosses the rank exactly where
   * the ranked value lands), so the spec pins `0 ≤ exact − approx <
   * width`. Values must be non-negative (floor-div bucketing).
   *
   * Scale shape: one partial-aggregating groupBy to histogram rows, a
   * histogram-sized rank window per group, a per-group count join — the
   * full-data exchange of [[quantiles]]' rank window never happens; the
   * only per-row work is the bucket map.
   */
  def quantileSketchHist(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[Double], width: Long): DataFrame = {
    require(width >= 1 && qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1))
    // DIV, not `/`: Spark's `/` on integers is double division, and a
    // double round-trip breaks bucket exactness past 2^53
    val hist = df
      .select(col(groupCol).as("grp"),
        expr(s"CAST($valueCol AS BIGINT) DIV $width").as("bucket"))
      .groupBy("grp", "bucket").agg(count(lit(1)).as("c"))
    quantilesFromHistogram(hist, Seq("grp"), qs, width, s"${valueCol}_q")
      .withColumnRenamed("grp", groupCol)
  }

  /**
   * Quantile extraction from prebuilt histogram rows
   * (`groupCols…, bucket, c`) — the read side of the sketch, split out
   * so STREAMED histograms answer the same question: bucket counts are
   * additive, so a Structured Streaming windowed count
   * ([[graft.streaming.EventsStream.hourlyValueHistogram]]) maintains
   * exactly this table incrementally, and this one histogram-sized
   * batch query turns any snapshot of it into quantiles. Same crossing
   * rule as [[quantileSketchHist]]: per group, the answer for q is
   * `min bucket with cumulative count ≥ 1 + floor(q·(n−1))`, returned
   * as the bucket's lower edge `bucket · width`.
   */
  def quantilesFromHistogram(hist: DataFrame, groupCols: Seq[String],
      qs: Seq[Double], width: Long, outCol: String): DataFrame = {
    require(groupCols.nonEmpty && width >= 1 && qs.nonEmpty)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy("bucket")
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
    val counts = hist.groupBy(groupCols.map(col): _*).agg(sum(col("c")).as("n"))
    val targets = counts
      .select(groupCols.map(col) :+ col("n") :+
        explode(array(qs.map(lit): _*)).as("q"): _*)
      .select(groupCols.map(col) :+ col("q") :+
        (lit(1) + floor(col("q") * (col("n") - 1))).cast("long").as("rn"): _*)
    // targets and cum are two branches of the SAME hist plan; rename the
    // target side's keys outright so the join carries no ambiguous
    // attribute (dataset aliases alone don't disambiguate shared
    // attribute ids when hist is itself an aggregate/view)
    val t = targets.select(
      groupCols.map(g => col(g).as(s"__k_$g")) :+ col("q") :+ col("rn"): _*)
    val joinCond = groupCols.map(g => col(s"__k_$g") === col(g)).reduce(_ && _)
    t.join(cum, joinCond)
      .where(col("cum") >= col("rn"))
      .groupBy(groupCols.map(g => col(s"__k_$g").as(g)) :+ col("q"): _*)
      .agg((min(col("bucket")) * lit(width)).as(outCol))
  }

  /**
   * Per-group winsorization: clamp a signal into its own [qLo, qHi]
   * exact type-1 quantile band — the standard outlier treatment BEFORE a
   * mean/stddev-based gate or a length-weighted mixture computation (one
   * 10⁸-char document otherwise owns its group's mean; dropping it wastes
   * data, clamping keeps it at the boundary). Emits the original value,
   * both thresholds, the clamped value, and a clipped flag per row.
   *
   * Determinism: thresholds are values AT ranks (order-independent,
   * exact int64 end to end for an integer column); the clamp is
   * greatest/least of exact integers — no floats anywhere.
   *
   * Scale shape: [[quantiles]]' rank window per group + one groups-sized
   * broadcast threshold join + a row-local clamp; at full corpus scale
   * substitute [[quantileSketchHist]] boundaries, same clamp.
   */
  def winsorize(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String, qLo: Double, qHi: Double): DataFrame = {
    require(qLo >= 0 && qHi <= 1 && qLo < qHi)
    val base = df.select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
      col(valueCol).cast("long").as("v"))
    val th = quantiles(base, "grp", "v", Seq(qLo, qHi))
      .groupBy("grp")
      .agg(min(when(col("q") === qLo, col("v_q"))).as("lo"),
        min(when(col("q") === qHi, col("v_q"))).as("hi"))
    base.join(broadcast(th), "grp")
      .select(col("doc_id"), col("grp").as(groupCol),
        col("v").as(valueCol), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("v"))).as("v_clipped"),
        (col("v") < col("lo") || col("v") > col("hi"))
          .cast("long").as("clipped"))
  }

  /**
   * Robust z-score per row: `(v − median) / (1.4826 · MAD)` within each
   * group — the outlier-resistant spelling of a z-score (mean/stddev
   * move with the outliers they're supposed to flag; median/MAD don't,
   * and 1.4826 rescales MAD to σ under normality). The quality-gate
   * companion to [[quantiles]]: calibrate thresholds on robust stats,
   * then flag |z| > 3 documents for review instead of hard bounds.
   *
   * Determinism: medians are the exact type-1 quantile (value at rank
   * `1 + floor(0.5·(n−1))`), so with an integer value column every
   * intermediate (median, deviations, MAD) is EXACT int64 in any
   * engine; the final division is one fixed IEEE op sequence, snapped.
   * A zero MAD (over half the group at the median) yields z = 0 rather
   * than a division blow-up.
   *
   * Scale shape: two rank windows per group (the exact calibration
   * path — at full corpus scale substitute [[quantileSketchHist]]'s
   * histogram medians) + two groups-sized broadcast joins back.
   */
  def robustZ(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
      col(valueCol).cast("long").as("v"))
    val med = quantiles(base, "grp", "v", Seq(0.5))
      .select(col("grp"), col("v_q").as("med"))
    val dev = base.join(broadcast(med), "grp")
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = quantiles(dev.select(col("grp"), col("dev")), "grp", "dev", Seq(0.5))
      .select(col("grp"), col("dev_q").as("mad"))
    dev.join(broadcast(mad), "grp")
      .select(col("doc_id"), col("grp").as(groupCol), col("v").as(valueCol),
        col("med"), col("mad"),
        (floor(when(col("mad") === 0L, lit(0.0))
          .otherwise((col("v") - col("med")).cast("double") /
            (lit(1.4826) * col("mad").cast("double"))) * lit(1e6)
          + lit(0.50001)) / lit(1e6)).as("robust_z"))
  }

  /**
   * Quantile-bucket assignment — the curriculum/stratification step that
   * follows [[quantiles]]: give every row a bucket 0..k-1 by where its
   * value falls among its group's k-quantile thresholds
   * (`bucket = #{thresholds strictly below the value}`). Used to order
   * training data by a quality signal (curriculum learning) or to
   * stratify eval pulls.
   *
   * Scale shape: NOT `ntile` over a global sort — the thresholds come
   * from [[quantiles]] (one rank window per group), collapse to one
   * array row per group (groups × (k−1) values, model-sized), and
   * broadcast-join back; the assignment itself is a row-local array
   * filter. No global total order ever materializes.
   */
  /**
   * Cross-source quantile normalization — the calibration step before
   * mixing sources whose RAW quality signals are incomparable (a "good"
   * forum post and a "good" reference article sit on different scales):
   * each document's signal maps to its empirical percentile WITHIN its
   * source, `pctl = |{v' in source : v' < v}| / (n_source − 1)` (ties
   * share the min-rank percentile; a single-document source maps to 0),
   * so a global threshold or mixing curve applies uniformly.
   *
   * Scale shape — deliberately NOT a per-source row_number: a window
   * ordered over every document of a source sorts the whole source on
   * one reducer (a dominant source = a straggler task holding most of
   * the corpus). Instead: one doc-sized hash aggregate to the
   * (source, value) HISTOGRAM, a cumulative-sum window over the
   * distinct-value table (histogram-sized, thousands of rows however
   * big the corpus), and one doc-sized equi-join back on
   * (source, value). The only sorted structure is the tiny histogram.
   */
  def quantileNormalize(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col(valueCol).asc)
    val hist = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("c"))
      .withColumn("less", sum(col("c")).over(w) - col("c"))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(groupCol)))
    df.select(col(idCol), col(groupCol), col(valueCol))
      .join(hist, Seq(groupCol, valueCol))
      .select(col(idCol), col(groupCol), col(valueCol),
        snapCol(when(col("n") > 1,
          col("less").cast("double") / (col("n") - lit(1)).cast("double"))
          .otherwise(lit(0.0))).as("pctl"))
  }

  /**
   * Curriculum assignment — the training-order export: each document
   * gets a PHASE (its [[quantileNormalize]]d quality percentile cut
   * into `phases` equal bands: low-percentile documents train first,
   * the usual easy→hard curriculum when the signal is a quality score)
   * and a deterministic ORDER KEY (the [[Export.mixBucket]] multiply-
   * add-mod chain — a rerun-stable "shuffle" within each phase, no
   * rand()). The global training order is (phase, order_key, doc_id);
   * feed it to [[Export.rangeShards]] when materialized positions are
   * needed — deliberately NOT computed here, because a per-phase
   * row_number would concentrate each phase on one reducer.
   *
   * Scale shape: [[quantileNormalize]]'s histogram plan plus two
   * row-local columns — nothing new shuffles.
   */
  def curriculum(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String, phases: Int = 4, salt: Long = 7L): DataFrame = {
    require(phases >= 1, "need at least one phase")
    quantileNormalize(df, idCol, groupCol, valueCol)
      .select(col(idCol), col(groupCol), col(valueCol), col("pctl"),
        least(floor(col("pctl") * phases), lit(phases - 1))
          .cast("long").as("phase"),
        Export.mixBucket(col(idCol), Int.MaxValue, salt).as("order_key"))
  }

  def qualityBuckets(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String, k: Int): DataFrame = {
    require(k >= 2, "need at least 2 buckets")
    val qs = (1 until k).map(_.toDouble / k)
    val th = quantiles(df, groupCol, valueCol, qs)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col(s"${valueCol}_q"))).as("th"))
    df.select(col(idCol), col(groupCol), col(valueCol))
      .join(broadcast(th), groupCol)
      .select(col(idCol), col(groupCol), col(valueCol),
        expr(s"size(filter(th, t -> t < $valueCol))").cast("long").as("bucket"))
  }

  /**
   * Fixed-size token chunking — the context-window packing prep step:
   * split each document's token stream into consecutive `chunkSize`-token
   * windows and emit one row per chunk with its token span and a portable
   * rolling-hash fingerprint (chunk-local positions, so identical chunk
   * content hashes identically wherever it appears — chunk-level dedup
   * composes for free). Chunk ids are 0-based and dense per doc; the last
   * chunk may be short. Map-side: the chunk key is integer arithmetic on
   * the token position, then one partial+final aggregate per (doc, chunk).
   */
  def chunks(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 128): DataFrame = {
    require(chunkSize > 0)
    tokensWithPosition(docs, idCol, textCol)
      .withColumn("chunk_id", (col("pos").cast("long") / chunkSize).cast("long"))
      .withColumn("term", expr(TextHash.fingerprintTerm(
        s"pos % $chunkSize", "token")))
      .groupBy("doc_id", "chunk_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        min(col("pos")).cast("long").as("first_pos"),
        max(col("pos")).cast("long").as("last_pos"),
        expr(s"sum(term) % ${TextHash.M}").cast("long").as("chunk_fp"))
  }

  /**
   * SLIDING-window chunking with overlap — the retrieval-indexing
   * standard ([[chunks]] is the training-packing form): chunk k covers
   * token positions `[k·stride, k·stride + chunkSize)`, so consecutive
   * chunks overlap by `chunkSize − stride` tokens and no span of up to
   * `chunkSize` tokens is ever split across ALL the chunks containing
   * it — the property retrieval recall depends on. Each token lands in
   * at most ⌈chunkSize/stride⌉ chunks via one row-local integer
   * sequence + explode (pure arithmetic, no self-join); fingerprint
   * positions are chunk-local, so identical chunk content hashes
   * identically wherever it appears, and chunk-level dedup composes.
   *
   * The membership range is pure integer arithmetic: kmin =
   * max(0, (pos − chunkSize + stride) div stride) — the div is a true
   * floor because the clamp discards the one regime (negative
   * numerator) where truncation and floor disagree.
   */
  def chunksSliding(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 128, stride: Int = 64): DataFrame = {
    require(stride > 0 && stride <= chunkSize)
    tokensWithPosition(docs, idCol, textCol)
      .withColumn("chunk_id", explode(expr(
        s"""sequence(greatest(CAST(0 AS BIGINT),
           |  (CAST(pos AS BIGINT) - $chunkSize + $stride) DIV $stride),
           |  CAST(pos AS BIGINT) DIV $stride)""".stripMargin)))
      .withColumn("term", expr(TextHash.fingerprintTerm(
        s"pos - chunk_id * $stride", "token")))
      .groupBy("doc_id", "chunk_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        min(col("pos")).cast("long").as("first_pos"),
        max(col("pos")).cast("long").as("last_pos"),
        expr(s"sum(term) % ${TextHash.M}").cast("long").as("chunk_fp"))
  }

  /**
   * Deterministic WEIGHTED sampling without replacement
   * (Efraimidis–Spirakis 2006): per group, keep the k documents with the
   * smallest `−ln(u)/w` keys, where u is a deterministic uniform derived
   * from the id's avalanche hash — an Exp(w) draw, so inclusion
   * probabilities are weight-proportional (the A-ES scheme), yet every
   * draw replays bit-for-bit from the id alone: reruns, resumes, and
   * audits see the same sample ([[hashSample]]'s determinism argument,
   * with weights). The weighted form is how quality- or length-biased
   * calibration subsets get pulled at corpus scale.
   *
   * Keys are snapped to the 1e-6 grid BEFORE ranking with an id
   * tie-break, so selection is decided on identical values in any
   * engine — `ln`'s last-ulp engine differences sit below the grid. The
   * uniform is `(avalanche(id)+1) / (2^31−1+1)` ∈ (0, 1], so the log is
   * always finite.
   *
   * Scale shape: row-local key arithmetic + one rank window per group
   * (single exchange); weights must be positive.
   */
  def weightedSample(docs: DataFrame, idCol: String, groupCol: String,
      weightCol: String, k: Int, salt: Long = 0L): DataFrame = {
    require(k >= 1)
    val u = s"(CAST(${TextHash.avalancheSql(idCol, salt)} + 1 AS DOUBLE) / ${TextHash.P31 + 1}.0)"
    val key = snapCol((-log(expr(u))) / col(weightCol).cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("key").asc, col("doc_id").asc)
    docs
      .select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
        col(weightCol).cast("long").as("weight"), key.as("key"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Snap a double column to the 1e-6 comparison grid (biased floor —
    * the [[graft.entry.EntryUtil.gate]] convention). Package-visible so
    * composed pipelines ([[Pipelines.selectCorpus]]) reuse THIS spelling
    * instead of inlining a copy that could drift. */
  private[ext] def snapCol(c: Column) =
    floor(c * lit(1e6) + lit(0.50001)) / lit(1e6)

  /**
   * Deterministic stratified sampling by CONTENT hash: keep a document iff
   * `fingerprint(text) % 1000 < rate(stratum) * 1000`, with per-stratum
   * rates (e.g. per language) and a default. The reproducible way to
   * sample at corpus scale — stable under id reassignment, repartitioning
   * and reruns (unlike `rand()`-based `sample`), and exact-duplicate docs
   * always sample identically, so it composes with dedup. Cost: the
   * per-doc fingerprint aggregate, one id equi-join back for the stratum
   * label, and a literal CASE for the rate table — the filter prunes
   * BEFORE anything downstream shuffles.
   */
  def hashSample(docs: DataFrame, idCol: String, textCol: String,
      stratumCol: String, rates: Map[String, Double],
      defaultRate: Double): DataFrame = {
    require((defaultRate +: rates.values.toSeq).forall(r => r >= 0 && r <= 1))
    val fp = fingerprint(docs, idCol, textCol)
    val rate = rates.foldLeft(lit(math.floor(defaultRate * 1000).toLong)) {
      case (els, (stratum, r)) =>
        when(col(stratumCol) === stratum, lit(math.floor(r * 1000).toLong)).otherwise(els)
    }
    docs.select(col(idCol).as("doc_id"), col(stratumCol))
      .join(fp, "doc_id")
      .where(col("fingerprint") % 1000 < rate)
      .select(col("doc_id"), col(stratumCol), col("fingerprint"))
  }

  /**
   * Corpus mixture statistics: per combination of the `dims` columns
   * (e.g. source × language), document / character / whitespace-token
   * totals and mean tokens per document — the table a data-mixing /
   * sampling-budget decision reads before a training run.
   *
   * Token counts are computed per ROW with array HOFs (no explode, no
   * join), so the whole operator is one map-side-partial aggregate over
   * a single scan — embarrassingly parallel at any corpus size, output
   * bounded by the dimension cardinality.
   */
  def corpusMix(docs: DataFrame, textCol: String, dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty)
    docs
      .withColumn("nt",
        expr(s"size(${tokensSql(textCol)})").cast("long"))
      .groupBy(dims.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col(textCol))).cast("long").as("n_chars"),
        sum(col("nt")).as("n_tokens"),
        (sum(col("nt")).cast("double") / count(lit(1))).as("avg_tokens"))
  }

  /**
   * Concatenative sequence packing — the GPT-style batch-prep step:
   * documents are conceptually concatenated and cut into fixed
   * `budgetTokens` context windows, and each document learns its
   * placement (token start offset, first/last bin it lands in; a
   * document may straddle bins, exactly like training-time packing).
   *
   * Scale shape: documents spread across `buckets` independent packing
   * streams by id, so the running-offset window parallelizes across
   * buckets instead of serializing the corpus through one partition —
   * one shuffle keyed by bucket, integer-exact arithmetic throughout.
   * Placement is deterministic (id order within bucket) and
   * rerun-stable. Per-row token counts are HOF-local like [[corpusMix]].
   */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Int, buckets: Int): DataFrame = {
    require(budgetTokens > 0 && buckets > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col(idCol).as("doc_id"),
        expr(s"size(${tokensSql(textCol)})")
          .cast("long").as("nt"))
      .where(col("nt") > 0)
      .withColumn("bucket", pmod(col("doc_id"), lit(buckets.toLong)))
      .withColumn("start_offset", coalesce(sum(col("nt")).over(w), lit(0L)))
      .select(col("doc_id"), col("bucket"), col("nt"), col("start_offset"),
        expr(s"start_offset div $budgetTokens").as("first_bin"),
        expr(s"(start_offset + nt - 1) div $budgetTokens").as("last_bin"))
  }

  /**
   * Order-sensitive document fingerprint: a position-weighted polynomial
   * over per-token character hashes, mod 1e9+7 (a rolling-hash analogue
   * that stays in exact int64 arithmetic — see [[TextHash.fingerprintTerm]]).
   * Reordering tokens changes the fingerprint; near-identical docs with the
   * same prefix share partial sums.
   */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Row-local HOF spelling (cf. [[stats]]). Positions must be the RAW
    // split slots — empty tokens keep their index and contribute 0 —
    // exactly reproducing tokensWithPosition's numbering; integer
    // addition is order-independent, so the sum is exact.
    val term = TextHash.fingerprintTerm("i", "tok")
    docs
      .select(col(idCol).as("doc_id"),
        split(col(textCol), Tokenizer.WhitespacePattern).as("raw"))
      .where(expr("size(filter(raw, x -> x <> ''))") > 0)
      .select(col("doc_id"),
        expr(s"""aggregate(
          |  transform(raw, (tok, i) -> IF(tok = '', CAST(0 AS BIGINT), $term)),
          |  CAST(0 AS BIGINT), (a, x) -> a + x) % ${TextHash.M}""".stripMargin)
          .cast("long").as("fingerprint"))
  }

  /** PII patterns — contract constants of [[piiScrub]]. Deliberately plain
    * leftmost-greedy regexes (no lookaround, no backreferences) so Java
    * regex and RE2-family engines match identically. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhonePattern = "\\+?[0-9][0-9()\\-. ]{7,14}[0-9]"

  /**
   * PII detection + redaction — the scrub stage every training-data
   * pipeline runs before tokenization: counts and replaces email
   * addresses, IPv4 addresses, and phone-like digit runs with typed
   * placeholder tokens (`<EMAIL>`, `<IP>`, `<PHONE>`).
   *
   * Matching is STAGED because the pattern languages overlap: emails are
   * scrubbed first (their local parts contain digits), then IPv4 (dotted
   * digit runs that the looser phone pattern would otherwise swallow),
   * then phones on the twice-scrubbed text — so each count attributes a
   * span to exactly one category and `n_emails/n_ips/n_phones` sum to
   * the number of placeholders in `clean_text`.
   *
   * Scale shape: a pure row-local map stage (three `regexp_count` +
   * three `regexp_replace`, all codegen'd) — zero exchanges; chains
   * ahead of [[stats]]/[[qualityFilter]] without adding a shuffle.
   */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val noEmail = regexp_replace(col(textCol), EmailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "<IP>")
    docs.select(
      col(idCol).as("doc_id"),
      regexp_count(col(textCol), lit(EmailPattern)).as("n_emails"),
      regexp_count(noEmail, lit(Ipv4Pattern)).as("n_ips"),
      regexp_count(noIp, lit(PhonePattern)).as("n_phones"),
      regexp_replace(noIp, PhonePattern, "<PHONE>").as("clean_text"))
  }

  /** Card-shaped digit runs: four groups of four digits with optional
    * single `-`/space separators (the common 16-digit card layouts). */
  val CardPattern = "[0-9]{4}([- ]?[0-9]{4}){3}"

  /** IBAN-shaped: country code + check digits + 11-28 alphanumerics,
    * word-bounded (`\b` matches identically in Java regex and RE2). */
  val IbanPattern = "\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,28}\\b"

  /** SSN-shaped: the unambiguous dashed ddd-dd-dddd form. */
  val SsnPattern = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /**
   * Spark-SQL Luhn checksum over a separator-free digit string `s` —
   * expressed entirely in array HOFs (no UDF, stays inside whole-stage
   * codegen): from the rightmost digit, every second digit doubles (minus
   * 9 when > 9), and the total must be ≡ 0 (mod 10). The DuckDB oracle
   * mirrors the identical arithmetic with list_transform/list_aggregate
   * ([[graft.entry.TextEntries]]).
   */
  def luhnValidExpr(s: String): String = {
    def digit(i: String) = s"CAST(substr($s, length($s) - $i, 1) AS INT)"
    s"""aggregate(transform(sequence(0, length($s) - 1),
       |  i -> CASE WHEN i % 2 = 1
       |       THEN IF(${digit("i")} * 2 > 9, ${digit("i")} * 2 - 9, ${digit("i")} * 2)
       |       ELSE ${digit("i")} END),
       |  0, (acc, x) -> acc + x) % 10 = 0""".stripMargin
  }

  /**
   * PII scrub v2 — [[piiScrub]]'s three classes plus card numbers
   * (Luhn-checked), IBAN-shaped account numbers, and dashed SSNs.
   * Staged so overlapping pattern languages
   * attribute each span to exactly one class, most-specific first:
   * emails → IBANs (their digit tails would otherwise feed the card
   * pattern — DE44 5001 0517 5407 3249 31 contains 18 straight digits)
   * → cards → SSNs (the dashed form is a valid phone-shaped digit run)
   * → IPv4 → phones.
   *
   * Card semantics: `clean_text` redacts EVERY card-shaped span (the
   * conservative scrub — a 16-digit run is risk regardless of checksum),
   * while `n_cards_luhn` counts only the Luhn-valid subset (the
   * high-precision detection signal; `n_cardlike` is the total). All
   * remaining counts attribute like v1: each class counted on the text
   * its stage sees, so the per-class counts sum to the placeholders in
   * `clean_text`.
   *
   * Scale shape: still a pure row-local map stage — regex counts/
   * replaces plus one array-HOF fold per card candidate, all codegen'd,
   * zero exchanges.
   */
  def piiScrubV2(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val luhnCount =
      s"""size(filter(transform(cards_, c -> translate(c, '- ', '')),
         |  s -> ${luhnValidExpr("s")}))""".stripMargin
    docs
      .withColumn("n_emails_", regexp_count(col(textCol), lit(EmailPattern)))
      .withColumn("t1_", regexp_replace(col(textCol), EmailPattern, "<EMAIL>"))
      .withColumn("n_ibans_", regexp_count(col("t1_"), lit(IbanPattern)))
      .withColumn("t2_", regexp_replace(col("t1_"), IbanPattern, "<IBAN>"))
      .withColumn("cards_", expr(s"regexp_extract_all(t2_, '$CardPattern', 0)"))
      .withColumn("n_cards_luhn_", expr(luhnCount))
      .withColumn("t3_", regexp_replace(col("t2_"), CardPattern, "<CARD>"))
      .withColumn("n_ssns_", regexp_count(col("t3_"), lit(SsnPattern)))
      .withColumn("t4_", regexp_replace(col("t3_"), SsnPattern, "<SSN>"))
      .withColumn("n_ips_", regexp_count(col("t4_"), lit(Ipv4Pattern)))
      .withColumn("t5_", regexp_replace(col("t4_"), Ipv4Pattern, "<IP>"))
      .select(
        col(idCol).as("doc_id"),
        col("n_emails_").cast("long").as("n_emails"),
        col("n_ibans_").cast("long").as("n_ibans"),
        size(col("cards_")).cast("long").as("n_cardlike"),
        col("n_cards_luhn_").cast("long").as("n_cards_luhn"),
        col("n_ssns_").cast("long").as("n_ssns"),
        col("n_ips_").cast("long").as("n_ips"),
        regexp_count(col("t5_"), lit(PhonePattern)).cast("long").as("n_phones"),
        regexp_replace(col("t5_"), PhonePattern, "<PHONE>").as("clean_text"))
  }

  /**
   * Corpus-unigram log-probability scoring — the offline stand-in for the
   * LM-perplexity quality signal (CCNet ranks documents by a wiki-LM's
   * perplexity; with no external model, the corpus's OWN unigram
   * distribution plays the LM). Per document: token count, mean token
   * log-prob `avg ln(count(tok)/total_tokens)` (high = stereotypical
   * text, low = rare-token-heavy), and the rarest token's log-prob.
   * Useful at both tails: very high means boilerplate, very low means
   * lexical noise/garbage.
   *
   * Scale shape: one token-frequency aggregate (map-side partial), the
   * grand total as a 1-row aggregate broadcast-crossed back over the
   * vocab (the sanctioned scalar-broadcast BNLJ shape, cf.
   * [[Retrieval]]'s corpus stats), then ONE equi-join of the token table
   * against the vocab-sized logprob table — at corpus scale the vocab
   * side is dimension-sized and broadcastable — and a per-doc aggregate.
   * Nothing corpus-sized crosses the driver.
   */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = tokensWithPosition(docs, idCol, textCol).select("doc_id", "token")
    val freq = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    val lp = freq.crossJoin(total)
      .select(col("token"),
        log(col("cnt").cast("double") / col("total").cast("double")).as("lp"))
    tok.join(lp, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(col("lp")).as("avg_logprob"),
        min(col("lp")).as("min_logprob"))
  }

  /**
   * Vocabulary frequency-decade histogram — the Zipf-audit table of a
   * corpus sweep: token frequencies bucketed by decimal magnitude
   * (`n_digits` = digits of the count — exact integer/string arithmetic,
   * deliberately NOT floor(log10) whose float rounding can misbucket
   * exact powers), with types, total occurrences, and the max frequency
   * per decade. A healthy natural-language corpus shows the Zipf slope
   * (each decade ~1/10 the types of the previous); a flat or top-heavy
   * histogram flags boilerplate or template spam before any dedup runs.
   *
   * Scale shape: one vocab aggregate + one decade-count-sized aggregate,
   * both map-side partial; output is ≤ digits(max_freq) rows.
   */
  /**
   * Pairwise Pearson correlation between the per-document quality
   * signals ([[stats]]: token count, mean token length, stopword ratio,
   * type-token ratio) — the calibration table read before composing a
   * quality gate: two signals correlating at |r| ≈ 1 are redundant (one
   * threshold suffices), and a signal uncorrelated with all others is
   * either an independent axis worth keeping or noise worth
   * investigating. One row per unordered signal pair.
   *
   * Scale shape: [[stats]] is a zero-exchange map stage; all sums fold
   * into ONE single-pass aggregate (map-side partial); the pair table is
   * built by exploding the 1-row result — six rows, no second corpus
   * pass, no driver action. The correlation is assembled from explicit
   * sums (n·Σxy − Σx·Σy over the root of the variance product) rather
   * than a co-moment `corr` aggregate, for two reasons: a constant
   * signal must yield an ABSENT row, not an ANSI divide-by-zero, and
   * the identical operation sequence is what lets the DuckDB oracle
   * match bit-for-bit.
   */
  def signalCorrelation(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sigs = Seq("n_tokens", "avg_token_len", "stopword_ratio", "ttr")
    val pairs = for {
      i <- sigs.indices; j <- (i + 1) until sigs.size
    } yield (sigs(i), sigs(j))
    val st = stats(docs, idCol, textCol)
      .select(sigs.map(s => col(s).cast("double").as(s)): _*)
    val aggExprs =
      sigs.map(s => sum(col(s)).as(s"s_$s")) ++
        sigs.map(s => sum(col(s) * col(s)).as(s"ss_$s")) ++
        pairs.map { case (x, y) => sum(col(x) * col(y)).as(s"sp_${x}__$y") } :+
        count(lit(1)).cast("double").as("n")
    st.agg(aggExprs.head, aggExprs.tail: _*)
      .select(explode(array(pairs.map { case (x, y) =>
        val cov = col("n") * col(s"sp_${x}__$y") - col(s"s_$x") * col(s"s_$y")
        val vx = col("n") * col(s"ss_$x") - col(s"s_$x") * col(s"s_$x")
        val vy = col("n") * col(s"ss_$y") - col(s"s_$y") * col(s"s_$y")
        struct(lit(x).as("sig_x"), lit(y).as("sig_y"),
          when(vx > 0.0 && vy > 0.0, cov / sqrt(vx * vy))
            .otherwise(lit(null).cast("double")).as("r"))
      }: _*)).as("p"))
      .select(col("p.sig_x").as("sig_x"), col("p.sig_y").as("sig_y"),
        col("p.r").as("r"))
      .where(col("r").isNotNull)
  }

  /**
   * Per-document bigram conditional log-probability — the context-aware
   * upgrade of [[unigramLogProb]] (the standard perplexity-style quality
   * filter, reduced to its relational core): each document is scored by
   * the mean and min of ln P(w₂|w₁) under the corpus's own MLE bigram
   * model, P(w₂|w₁) = c(w₁w₂) / Σ_w c(w₁w). Word salad that sails past a
   * unigram filter (common words, impossible transitions) scores low
   * here. Self-scoring the training corpus means every observed bigram
   * has count ≥ 1, so the MLE needs no smoothing and no OOV branch.
   * Documents with fewer than two tokens have no bigrams and are absent.
   *
   * Scale shape: bigram extraction is row-local (array HOFs); the model
   * is two map-side-partial aggregates (bigram counts, then prefix
   * totals off the already-aggregated bigram table — never a second
   * corpus pass); scoring is one vocab-sized equi-join back to the
   * bigram stream plus one doc-keyed aggregate. Nothing quadratic, no
   * driver action.
   */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs =
      "transform(sequence(1, size(t) - 1), " +
        "i -> named_struct('w1', element_at(t, i), 'w2', element_at(t, i + 1)))"
    val big = tokenArray(docs, idCol, textCol)
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(pairs)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val pc = bc.groupBy("w1").agg(sum(col("cb")).as("cp"))
    val lp = bc.join(pc, "w1")
      .select(col("w1"), col("w2"),
        log(col("cb").cast("double") / col("cp").cast("double")).as("lp"))
    big.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(col("lp")).as("avg_logprob"),
        min(col("lp")).as("min_logprob"))
  }

  /**
   * HELD-OUT interpolated-bigram perplexity — the honest version of the
   * [[unigramLogProb]]/[[bigramLogProb]] proxies: those self-score the
   * training corpus (every observed n-gram has count ≥ 1, so duplicated
   * boilerplate scores *well*), while a real perplexity gate fits the
   * model on one split and scores documents the model has never seen —
   * the CCNet/Gopher-style "perplexity against a reference LM" filter,
   * with the reference LM fit from the corpus itself on a disjoint
   * id-hash split ([[Export.mixBucket]], so the assignment is a pure
   * function of the id and reproducible in the oracle).
   *
   * Model: Jelinek–Mercer interpolation of the train-split MLE bigram
   * with an add-one train-split unigram,
   * `P(w₂|w₁) = 0.75·c(w₁w₂)/c(w₁·) + 0.25·Pu(w₂)` where
   * `Pu(w) = (c(w)+1)/(T+V+1)` — the +1 mass makes Pu strictly positive
   * for OOV targets, and an unseen CONTEXT (c(w₁·)=0) backs off to
   * `Pu(w₂)` entirely. λ = 0.75 is an exact binary double, mirrored
   * literally in the oracle. Output per held-out document (absent if it
   * has < 2 tokens): bigram count, OOV-target count, mean ln P, and
   * `perplexity = exp(−mean ln P)`.
   *
   * Scale shape: the model is three map-side-partial aggregates over
   * the train split (bigram counts, prefix totals off the aggregated
   * bigram table, unigram counts) + one 1-row total; scoring is three
   * vocab-sized equi-joins back to the held-out bigram stream (Catalyst
   * broadcasts them when the vocab is small; they stay key-partitioned
   * equi-joins when it is not) + one doc-keyed aggregate. The corpus is
   * read twice (train pass, score pass) and nothing is quadratic.
   */
  def heldoutPerplexity(docs: DataFrame, idCol: String, textCol: String,
      trainPermille: Int = 800, salt: Long = 0L): DataFrame = {
    require(trainPermille > 0 && trainPermille < 1000,
      "both splits need mass: trainPermille in (0, 1000)")
    val bucket = graft.ext.Export.mixBucket(col(idCol), 1000, salt)
    perplexityAgainst(docs.where(bucket < trainPermille),
      docs.where(bucket >= trainPermille), idCol, textCol)
  }

  /**
   * CROSS-CORPUS perplexity — [[heldoutPerplexity]]'s model/score core
   * with the two corpora supplied by the caller: fit the interpolated
   * bigram LM on `reference` (a curated corpus), score every document of
   * `target` (a raw crawl) against it. This is the deployed shape of the
   * CCNet reference-LM filter; the held-out variant is this function
   * driven by an id-hash split of one corpus. Same model, same OOV
   * handling, same output schema (absent rows for target docs with < 2
   * tokens); same scale shape — the reference is read twice to build the
   * vocab-sized model tables, the target once.
   */
  def perplexityAgainst(reference: DataFrame, target: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val pairs =
      "transform(sequence(1, size(t) - 1), " +
        "i -> named_struct('w1', element_at(t, i), 'w2', element_at(t, i + 1)))"
    def bigrams(d: DataFrame): DataFrame =
      tokenArray(d, idCol, textCol)
        .where(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(pairs)).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val trainTok = tokenArray(reference, idCol, textCol)
      .select(explode(col("t")).as("token"))
    val cu = trainTok.groupBy("token").agg(count(lit(1)).as("cu"))
    val tot = cu.agg(sum(col("cu")).as("tt"), count(lit(1)).as("vv"))
    val cb = bigrams(reference).groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cp = cb.groupBy("w1").agg(sum(col("cb")).as("cp"))
    // op order below (cast placement, +1 before cast, λ·ratio + (1−λ)·pu)
    // is mirrored TOKEN-FOR-TOKEN in the oracle SQL; ln/exp ulp and
    // avg sum-order noise sit far below the 1e-6 rounding grid
    val pu = (coalesce(col("cu"), lit(0L)) + lit(1L)).cast("double") /
      (col("tt") + col("vv") + lit(1L)).cast("double")
    val p = when(col("cp").isNull, pu)
      .otherwise(lit(0.75) * (coalesce(col("cb"), lit(0L)).cast("double") /
        col("cp").cast("double")) + lit(0.25) * pu)
    bigrams(target)
      .join(cb, Seq("w1", "w2"), "left")
      .join(cp, Seq("w1"), "left")
      .join(cu.withColumnRenamed("token", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("cu").isNull, lit(1L)).otherwise(lit(0L)).as("oov"),
        log(p).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("n_oov"),
        avg(col("lp")).as("avg_logprob"),
        exp(-avg(col("lp"))).as("perplexity"))
  }

  /**
   * Per-slice distribution drift: the Jensen–Shannon divergence (in
   * nats) between each group's unigram distribution P and the GLOBAL
   * corpus distribution Q — the one-number-per-slice audit behind
   * mixture rebalancing ("which source drifted away from the corpus it's
   * supposed to resemble") and ingest monitoring (yesterday's snapshot
   * vs today's). JS rather than KL because it is finite even when a
   * slice misses tokens (KL(Q‖P) diverges on any token the slice lacks)
   * and symmetric-bounded in [0, ln 2].
   *
   * The sum runs only over the slice's OWN support: for a token absent
   * from the slice (p = 0) the JS term collapses to ½·q·ln 2, so the
   * whole absent-token tail folds into ½·ln 2·(1 − Σ_present q) — one
   * correction from the already-aggregated coverage, never a join
   * against the full global vocabulary per group.
   *
   * Scale shape: two token aggregates (per-group and global, both
   * map-side partial), one vocab-sized equi-join on token, two one-row
   * broadcast totals; output is one row per group. Nothing touches the
   * corpus twice and nothing is quadratic.
   */
  def corpusDivergence(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val t = docs.select(col(groupCol).as("grp"),
      explode(expr(tokensSql(textCol))).as("token"))
    val slice = t.groupBy("grp", "token").agg(count(lit(1)).as("c"))
    val sliceTot = slice.groupBy("grp").agg(sum(col("c")).as("tg"))
    val glob = t.groupBy("token").agg(count(lit(1)).as("cg"))
    val globTot = glob.agg(sum(col("cg")).as("tt"))
    val pq = slice.join(sliceTot, "grp").crossJoin(globTot).join(glob, "token")
      .select(col("grp"),
        (col("c").cast("double") / col("tg")).as("p"),
        (col("cg").cast("double") / col("tt")).as("q"))
    pq.groupBy("grp").agg(
      count(lit(1)).as("n_types"),
      (sum(lit(0.5) * col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))) +
           lit(0.5) * col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))) +
        lit(0.5) * log(lit(2.0)) * (lit(1.0) - sum(col("q")))).as("js"))
  }

  /**
   * Per-group vocabulary heavy hitters — [[vocabTopK]] partitioned by a
   * metadata column (language, source): the `k` highest-document-frequency
   * tokens per group, ranked (doc_freq desc, token asc). The per-language
   * vocab audit that catches a mislabeled or boilerplate-dominated slice
   * the global list averages away.
   *
   * Scale shape: tokens are pre-deduplicated per document with
   * `array_distinct` INSIDE the row, so the (group, token) aggregate's
   * input carries one row per distinct (doc, token) — the aggregate
   * itself then counts rows, no second distinct. The rank window's input
   * is the aggregated vocabulary (vocab-sized, NOT corpus-sized) with
   * group-count parallelism — the standard grouped-top-k trade; a global
   * TakeOrdered cannot express per-group cuts.
   */
  def vocabTopKByGroup(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, k: Int): DataFrame = {
    require(k > 0)
    val df = docs
      .select(col(groupCol).as("grp"), col(idCol).as("doc_id"),
        expr(tokensSql(textCol)).as("t"))
      .select(col("grp"), col("doc_id"),
        explode(array_distinct(col("t"))).as("token"))
      .groupBy("grp", "token").agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy("grp")
      .orderBy(col("doc_freq").desc, col("token").asc)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("grp", "rank", "token", "doc_freq")
  }

  /**
   * Per-group corpus audit — the summary table a corpus sweep publishes
   * per (language, source): document count, total token count, distinct
   * token types, and mean character length. The coverage/diversity view
   * that decides which sources are worth their ingest cost and feeds the
   * mixture weights ([[corpusMix]]); a source whose type count stalls
   * while its token count grows is boilerplate.
   *
   * Scale shape: two branches over the same row-local token arrays —
   * per-group totals are ONE hash aggregate keyed by the group columns
   * (token counts are computed INSIDE each row via `size`, so nothing
   * token-sized shuffles), and the type count pre-dedups per document
   * with `array_distinct` before exploding, so the (group, token)
   * distinct shuffles one row per distinct (doc, token), not per
   * occurrence. Output is group-cardinality-sized. Zero-token documents
   * still count toward `n_docs`/`avg_chars` (their empty arrays explode
   * to nothing on the type branch).
   */
  def corpusStats(docs: DataFrame, textCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty)
    val g = groupCols.map(col)
    val base = docs.select(g ++ Seq(
      expr(tokensSql(textCol)).as("t"),
      length(col(textCol)).cast("long").as("nc")): _*)
    val totals = base.groupBy(g: _*).agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("t")).cast("long")).as("n_tokens"),
      avg(col("nc")).as("avg_chars"))
    val types = base
      .select(g :+ explode(array_distinct(col("t"))).as("token"): _*)
      .distinct()
      .groupBy(g: _*).agg(count(lit(1)).as("n_types"))
    totals.join(types, groupCols, "left")
      .na.fill(0L, Seq("n_types"))
      .select(g ++ Seq(col("n_docs"), col("n_tokens"), col("n_types"),
        col("avg_chars")): _*)
  }

  def zipfHistogram(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokensWithPosition(docs, idCol, textCol)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .select(length(col("cnt").cast("string")).cast("long").as("n_digits"),
        col("cnt"))
      .groupBy("n_digits")
      .agg(count(lit(1)).as("n_types"),
        sum(col("cnt")).as("n_occurrences"),
        max(col("cnt")).as("max_freq"))

  /**
   * Per-group token-budget sampling — the epoch-mix step that cuts each
   * source down to its token allowance: documents are ordered inside
   * their group by the deterministic [[Export.mixBucket]] id-hash (a
   * reproducible shuffle — id order would bias toward old documents),
   * token counts accumulate in that order, and the documents whose
   * running total stays within `budgetTokens` are kept. A document's
   * keep decision depends only on the group's membership and the hash
   * chain — rerun-stable, and auditable by recomputing the prefix sums.
   *
   * Scale shape: row-local token counts (HOF, cf. [[corpusMix]]), then
   * ONE exchange keyed by the group for the running-sum window — the
   * same per-group-stream shape as [[packSequences]]; group count is the
   * parallelism, so at 100 TB budget-sample WITHIN natural shards (e.g.
   * source × date) rather than a handful of giant groups.
   */
  def budgetSample(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, budgetTokens: Long, salt: Long = 0L): DataFrame = {
    require(budgetTokens > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
        expr(s"size(${tokensSql(textCol)})")
          .cast("long").as("nt"))
      .where(col("nt") > 0)
      .withColumn("h", Export.mixBucket(col("doc_id"), Int.MaxValue, salt))
      .withColumn("cum", sum(col("nt")).over(w))
      .where(col("cum") <= budgetTokens)
      .select(col("doc_id"), col("grp"), col("nt"), col("cum"))
  }

  /**
   * Per-document unigram entropy (nats) — the Shannon diversity of the
   * token distribution, a quality signal orthogonal to length and
   * stop-ratio: near-zero entropy flags keyword-stuffed / single-token
   * spam, entropy ≈ ln(n_tokens) flags no-repetition word salad; natural
   * prose sits between. `entropy_norm` rescales by the maximum ln(n_distinct)
   * into [0, 1] (0 when a document has a single distinct token).
   *
   * Zero exchanges: H = ln(n) − (Σ c·ln c)/n needs only per-token counts
   * WITHIN the row, so the token multiset never leaves it — one
   * `array_sort` + one linear fold over equal-token runs (the
   * [[repetition]] idiom), O(n log n) per document, embarrassingly
   * parallel and stream-native at any corpus size. The fold is
   * sequential, so Σ c·ln c is order-deterministic on the Spark side;
   * cross-engine it matches any re-associated sum to ~1e-13, far inside
   * the harness's 1e-6 snap.
   */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // state: previous token, current run length, distinct-run count, Σ c·ln c
    val fold =
      """aggregate(
        |  array_sort(w),
        |  named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT),
        |               'nd', CAST(0 AS BIGINT), 's', CAST(0.0 AS DOUBLE)),
        |  (st, x) -> IF(st.prev IS NOT NULL AND x = st.prev,
        |    named_struct('prev', x, 'run', st.run + 1, 'nd', st.nd, 's', st.s),
        |    named_struct('prev', x, 'run', CAST(1 AS BIGINT), 'nd', st.nd + 1,
        |      's', st.s + IF(st.run > 0,
        |        CAST(st.run AS DOUBLE) * ln(CAST(st.run AS DOUBLE)), 0.0D))),
        |  st -> named_struct('nd', st.nd,
        |    's', st.s + IF(st.run > 0,
        |      CAST(st.run AS DOUBLE) * ln(CAST(st.run AS DOUBLE)), 0.0D)))""".stripMargin
    docs
      .select(col(idCol).as("doc_id"),
        expr(tokensSql(textCol)).as("w"))
      .where(size(col("w")) >= 1)
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        expr(fold).as("st"))
      .select(col("doc_id"), col("n_tokens"),
        col("st.nd").as("n_distinct"),
        (log(col("n_tokens").cast("double")) -
          col("st.s") / col("n_tokens").cast("double")).as("entropy"))
      .withColumn("entropy_norm",
        when(col("n_distinct") > 1,
          col("entropy") / log(col("n_distinct").cast("double")))
          .otherwise(lit(0.0)))
  }

  /**
   * Adjacent-bigram collocations ranked by pointwise mutual information —
   * the classic phrase-mining pass (Church & Hanks 1990) that finds
   * multi-word expressions ("new york", "machine learning") worth fusing
   * into single tokens before embedding or LM training. PMI uses the
   * bigram table's OWN marginals (left marginal = Σ over second token,
   * right = Σ over first), so P(t1,·), P(·,t2) and P(t1,t2) live on one
   * consistent sample space of N = total bigram occurrences.
   *
   * `minCount` guards the well-known low-frequency PMI explosion (a pair
   * seen once between two hapaxes maxes the score); `k` keeps the top
   * collocations, ranked on the 1e-6-snapped PMI (ln differs across
   * engines by ~1 ulp; snapping BEFORE the top-k makes the selection set
   * engine-independent — the [[Relational.segmentTopOrders]] rule) with
   * (t1, t2) tie-break.
   *
   * Scale shape: bigram assembly is row-local (the [[repetition]] HOF
   * idiom — no (doc, pos) self-join); ONE (t1,t2)-keyed count with
   * map-side partials; both marginals are vocab-sized aggregates OF the
   * bigram table re-joined by equi-key; N is the sanctioned 1-row scalar
   * broadcast; top-k is TakeOrdered, never a global sort.
   */
  def pmiBigrams(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1 && k > 0)
    val pairs = docs
      .select(expr(tokensSql(textCol)).as("w"))
      .where(size(col("w")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(w) - 2),
          |  i -> named_struct('t1', element_at(w, i + 1),
          |                    't2', element_at(w, i + 2)))""".stripMargin)).as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
    val big = pairs.groupBy("t1", "t2").agg(count(lit(1)).as("c12"))
    val left = big.groupBy("t1").agg(sum("c12").as("c1"))
    val right = big.groupBy("t2").agg(sum("c12").as("c2"))
    val total = big.agg(sum("c12").as("n_total"))
    big
      .join(left, "t1").join(right, "t2")
      .crossJoin(broadcast(total))
      .where(col("c12") >= minCount)
      .withColumn("pmi",
        floor(
          log(col("c12").cast("double") * col("n_total").cast("double") /
            (col("c1").cast("double") * col("c2").cast("double"))) * lit(1e6)
          + lit(0.50001)) / lit(1e6))
      .orderBy(col("pmi").desc, col("t1").asc, col("t2").asc)
      .limit(k)
      .select(col("t1"), col("t2"), col("c12"), col("c1"), col("c2"), col("pmi"))
  }

  /**
   * Class-based TF-IDF top terms per cluster — the c-TF-IDF labeling
   * step of BERTopic (Grootendorst 2022): treat each cluster's documents
   * as ONE class document; a term's weight in cluster c is
   * `tf_{t,c} · ln(1 + (A / f_t))` where `tf_{t,c}` is the term's count
   * inside the cluster, `f_t` its count across ALL clusters, and `A` the
   * average token count per cluster. The k highest-weight terms name the
   * cluster — the human-readable readout over any doc→cluster map
   * ([[Embeddings]] k-means assignments, a language id, a source tag).
   *
   * Determinism: all counts are exact int64; the weight is a fixed IEEE
   * op sequence (two divisions, one ln, one multiply — ln may differ by
   * an ulp across engines) SNAPPED to the 1e-6 grid BEFORE ranking, with
   * the token string as tie-break — so which terms make the top-k is a
   * function of values both engines agree on (same construction as
   * [[pmiBigrams]]).
   *
   * Scale shape: the token explode + (cluster, term) count is the ONE
   * fact-sized exchange; `f_t` re-aggregates that RESULT per term
   * (vocabulary-sized); the scalar pair (total tokens, cluster count) is
   * the sanctioned 1-row broadcast; the tf⋈f_t equi-join and the
   * per-cluster top-k window all run on vocabulary-sized data.
   */
  def clusterTerms(docs: DataFrame, idCol: String, textCol: String,
      clusterCol: String, k: Int): DataFrame = {
    require(k > 0)
    val tf = docs
      .select(col(clusterCol).as("cluster"),
        explode(expr(tokensSql(textCol))).as("token"))
      .groupBy("cluster", "token")
      .agg(count(lit(1)).as("tf"))
    val termTotal = tf.groupBy("token").agg(sum("tf").as("f_t"))
    val scalars = tf.agg(
      sum("tf").cast("double").as("total_tokens"),
      countDistinct("cluster").cast("double").as("n_clusters"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("score").desc, col("token").asc)
    tf.join(termTotal, "token")
      .crossJoin(broadcast(scalars))
      .withColumn("score",
        floor(col("tf").cast("double") *
          log(lit(1.0) +
            col("total_tokens") / col("n_clusters") / col("f_t").cast("double")) *
          lit(1e6) + lit(0.50001)) / lit(1e6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("cluster", "rank", "token", "tf", "f_t", "score")
  }

  /**
   * Byte-pair-encoding merge induction (Sennrich et al. 2016) — the
   * tokenizer-training core: `rounds` greedy merge rules learned from
   * the corpus's word-frequency table. Each round counts every adjacent
   * symbol pair weighted by word frequency, adopts the most frequent
   * pair (ties broken lexicographically on the pair), and rewrites every
   * word's symbol sequence with a greedy left-to-right merge (overlapping
   * occurrences like `aaa` under the rule `a+a` merge the FIRST pair and
   * skip the consumed symbol — the reference BPE behavior). Output: one
   * row per learned rule (round, sym_a, sym_b, pair_count, merged).
   * Words are whitespace tokens split to characters; no end-of-word
   * marker (merges never cross word boundaries by construction here).
   *
   * Determinism: pair counts are exact int64 sums of exact counts; the
   * argmax orders (count DESC, sym_a ASC, sym_b ASC) — pure string/int
   * comparisons, so any engine adopts the identical rule sequence (the
   * contract oracle replays all rounds in SQL).
   *
   * Scale shape: the corpus collapses ONCE to its word-frequency table
   * (the only fact-sized exchange); every round then runs on word TYPES
   * — a pair explode bounded by total characters across types, one
   * vocabulary-sized aggregate, a TakeOrdered(1) argmax, and a row-local
   * fold (`aggregate` HOF) for the rewrite, zero additional exchanges.
   * The adopted rule is a driver-held pair (model-sized eager fit, the
   * [[Embeddings]] codebook sanction); `localCheckpoint` keeps round
   * plans O(1). Real tokenizers learn ~30k rules with this exact loop —
   * `rounds` bounds the work per call, not the design.
   */
  def bpeMerges(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeFit(docs, textCol, rounds, rewriteLast = false)._1
      .toDF("round", "sym_a", "sym_b", "pair_count")
      .withColumn("merged", concat(col("sym_a"), col("sym_b")))
  }

  /**
   * Encoding statistics after applying `rounds` learned BPE rules — the
   * readout that decides whether a merge budget is worth its vocabulary:
   * word-type and token counts, the resulting symbol-vocabulary size,
   * total emitted symbols across the corpus, symbols per token, and the
   * character-per-symbol compression ratio. One row.
   *
   * Same fit loop as [[bpeMerges]] (including the rewrite after the
   * LAST rule — the encoded corpus is the point here); the final
   * aggregate is two 1-row folds over the rewritten word-type table
   * joined by the sanctioned scalar cross — counts exact int64, the two
   * ratios one division each.
   */
  def bpeEncodeStats(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val (_, syms) = bpeFit(docs, textCol, rounds, rewriteLast = true)
    val wordSide = syms.agg(
      count(lit(1)).as("n_types"),
      sum(col("n")).as("n_tokens"),
      sum(col("n") * length(col("word"))).as("total_chars"))
    val symSide = syms.select(col("n"), explode(col("s")).as("sym"))
      .agg(countDistinct(col("sym")).as("vocab_size"),
        sum(col("n")).as("total_syms"))
    wordSide.crossJoin(broadcast(symSide))
      .select(col("n_types"), col("n_tokens"), col("vocab_size"),
        col("total_syms"), col("total_chars"),
        (col("total_syms").cast("double") / col("n_tokens").cast("double"))
          .as("syms_per_token"),
        (col("total_chars").cast("double") / col("total_syms").cast("double"))
          .as("chars_per_sym"))
  }

  /**
   * Per-language tokenizer fertility under the trained BPE: for each
   * language, tokens (whitespace words), word types, emitted BPE
   * symbols, characters — and the two health ratios a tokenizer review
   * reads: FERTILITY (symbols per word; a language systematically above
   * the corpus mean is under-served by the learned merges and pays more
   * sequence length per sentence) and chars-per-symbol (compression).
   * The cross-language fairness readout (cf. the fertility analyses
   * around multilingual tokenizers) for [[bpeEncodeStats]]' corpus-wide
   * numbers.
   *
   * Scale: the fit collapses the corpus to WORD TYPES once (the
   * [[bpeFit]] argument); fertility adds one (lang, word) count — the
   * only corpus-sized aggregate — and a vocabulary-sized equi-join onto
   * the |symbols|-per-word table, folding to one row per language.
   */
  def bpeFertilityByLang(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, rounds: Int): DataFrame = {
    val (_, syms) = bpeFit(docs, textCol, rounds, rewriteLast = true)
    val nsyms = syms.select(col("word"), size(col("s")).cast("long").as("n_syms"))
    val symTotal = sum(col("c") * col("n_syms"))
    docs
      .select(col(langCol).as("lang"),
        explode(expr(tokensSql(textCol))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("c"))
      .join(nsyms, "word")
      .groupBy("lang")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        symTotal.as("n_syms_total"),
        sum(col("c") * length(col("word"))).as("n_chars"),
        (symTotal.cast("double") / sum("c")).as("fertility"),
        (sum(col("c") * length(col("word"))).cast("double") / symTotal)
          .as("chars_per_sym"))
  }

  /** The shared BPE fit loop: word-frequency table → per-round pair
    * count, argmax adoption, greedy rewrite. Returns the adopted rules
    * and the (word, n, s) symbol table after the last applied rewrite
    * (`rewriteLast` controls whether the final rule is applied — rule
    * LEARNING doesn't need it, ENCODING does). */
  private def bpeFit(docs: DataFrame, textCol: String, rounds: Int,
      rewriteLast: Boolean): (Seq[(Long, String, String, Long)], DataFrame) = {
    require(rounds > 0)
    val words = docs
      .select(explode(expr(tokensSql(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    var syms = words.select(col("word"), col("n"),
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("s"))
      .localCheckpoint()
    val learned = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var round = 1
    var dry = false
    while (round <= rounds && !dry) {
      val top = syms.where(size(col("s")) >= 2)
        .select(col("n"), explode(expr(
          """transform(sequence(0, size(s) - 2),
            |  i -> named_struct('a', element_at(s, i + 1),
            |                    'b', element_at(s, i + 2)))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect().headOption
      top match {
        case Some(r) =>
          val (a, b) = (r.getAs[String]("a"), r.getAs[String]("b"))
          learned += ((round.toLong, a, b, r.getAs[Long]("cnt")))
          if (round < rounds || rewriteLast)
            syms = syms
              .withColumn("s", mergePair(col("s"), lit(a), lit(b)))
              .localCheckpoint()
        case None => dry = true // every word is a single symbol already
      }
      round += 1
    }
    (learned.toSeq, syms)
  }

  /** Unigram-LM trainer geometry (contract constants — the oracle
    * mirrors them): candidate pieces up to 4 chars; the seed vocabulary
    * keeps every single character (coverage guarantee) plus the 512
    * most frequent longer substrings; 2 hard-EM rounds; -1e9 is the
    * "piece not in vocabulary" log-prob sentinel (far below any real
    * path, exact in both engines). */
  val UniMaxPiece = 4
  val UniSeedMulti = 512
  val UniIters = 2
  val UniNegInf = -1.0e9

  /**
   * Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer training —
   * the OTHER half of the production tokenizer story next to
   * [[bpeMerges]]: instead of greedy merge rules,
   * fit a piece-probability model by hard EM over word types:
   *
   *   1. SEED: all single characters plus the [[UniSeedMulti]] most
   *      frequent substrings of length 2..[[UniMaxPiece]] (occurrence
   *      counts weighted by word frequency; ties lexicographic), with
   *      log-probs ln(cnt/Σcnt) snapped to the 1e-6 grid.
   *   2. E-STEP (×`iters`): VITERBI-segment every word type — the
   *      classic DP dp[e] = max_k dp[e−k] + logp(word[e−k..e)) — as a
   *      ROW-LOCAL `aggregate` fold over positions (no per-position
   *      join), ties preferring the longer piece; piece usage counts
   *      are word-frequency-weighted.
   *   3. M-STEP: logp = snapped ln(cnt/Σcnt); pieces with zero count
   *      drop (every word stays segmentable — its previous round's
   *      pieces all survive by construction).
   *
   * Returns the final model's `k` most used pieces: (rank, piece, cnt,
   * logp), rank by (cnt DESC, piece ASC).
   *
   * Determinism: counts are exact int64; log-probs snap BEFORE any
   * comparison; DP scores are sums of identical snapped doubles built
   * by the identical recurrence, so the argmax (and therefore every
   * segmentation) is engine-exact — the contract oracle replays both
   * EM rounds in SQL (recursive-CTE DP; the vocab_bpe replay pattern).
   *
   * Scale shape: the corpus collapses ONCE to its word-frequency table
   * (the only corpus-sized exchange — [[bpeFit]]'s shape); each round
   * is one vocabulary-sized candidate join (≤ 4·chars rows per word
   * TYPE), two row-local folds (DP + backtrace), and one piece-keyed
   * aggregate; the model is vocabulary-sized throughout. Real trainers
   * run this loop with pruning schedules over millions of types — the
   * constants bound work per call, not the design.
   */
  def unigramVocab(docs: DataFrame, idCol: String, textCol: String,
      iters: Int = UniIters, k: Int = 40,
      charCoverage: Boolean = false): DataFrame = {
    require(k > 0)
    val (_, vocab, _) = unigramFit(docs, textCol, iters, charCoverage)
    val w = Window.orderBy(col("cnt").desc, col("piece").asc)
    vocab
      .orderBy(col("cnt").desc, col("piece").asc).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "piece", "cnt", "logp")
  }

  /**
   * Encoding statistics of the FINAL unigram segmentation — the
   * fertility readout against [[bpeEncodeStats]] (same columns, so
   * `pieces_per_token` vs `syms_per_token` is a direct tokenizer
   * comparison on the same corpus): word types, tokens, vocabulary
   * size, total emitted pieces, characters, pieces per token, chars
   * per piece. One row; the fit's own shapes plus two 1-row folds.
   */
  def unigramEncodeStats(docs: DataFrame, idCol: String, textCol: String,
      iters: Int = UniIters, charCoverage: Boolean = false): DataFrame = {
    val (_, vocab, seg) = unigramFit(docs, textCol, iters, charCoverage)
    val vs = vocab.agg(count(lit(1)).as("vocab_size"))
    seg.agg(
        count(lit(1)).as("n_types"),
        sum(col("n")).as("n_tokens"),
        sum(col("n") * size(col("pieces")).cast("long")).as("total_pieces"),
        sum(col("n") * length(col("word")).cast("long")).as("total_chars"))
      .crossJoin(broadcast(vs))
      .select(col("n_types"), col("n_tokens"), col("vocab_size"),
        col("total_pieces"), col("total_chars"),
        (col("total_pieces").cast("double") / col("n_tokens").cast("double"))
          .as("pieces_per_token"),
        (col("total_chars").cast("double") / col("total_pieces").cast("double"))
          .as("chars_per_piece"))
  }

  /** The shared unigram-LM fit: word-frequency table → seed vocabulary
    * → `iters` hard-EM rounds. Returns (words, final vocab with counts
    * and snapped log-probs, final segmentation (word, n, pieces)).
    *
    * `charCoverage` (SentencePiece's
    * character-coverage guarantee): with it OFF, a single-character
    * piece whose every occurrence gets absorbed by a longer piece in
    * the E-step has zero count and DROPS in the M-step, so a vocabulary
    * trained this way can fail to encode new text containing that
    * character in an unseen context. With it ON, every character of the
    * corpus is retained in every round's vocabulary at a floor count of
    * 1 (the add-one convention the LM-perplexity family already uses;
    * characters the Viterbi actually used keep their real counts) — so
    * ANY string over the corpus's character set stays losslessly
    * encodable, scripts with rare characters (CJK long-tail, emoji)
    * included. The floor enters Σcnt, so log-probs shift accordingly
    * on both engines (oracle-mirrored). */
  private[ext] def unigramFit(docs: DataFrame, textCol: String,
      iters: Int, charCoverage: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    require(iters >= 1)
    val words = docs
      .select(explode(expr(tokensSql(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // every substring occurrence up to UniMaxPiece chars, freq-weighted
    val occ = words
      .select(col("n"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), e ->
           |  transform(sequence(1, least($UniMaxPiece, e)), k ->
           |    substring(word, e - k + 1, k))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("cnt"))
    val singles = occ.where(length(col("piece")) === 1)
    val seed = singles
      .unionByName(occ.where(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece").asc).limit(UniSeedMulti))
    // the character universe is model-sized (distinct corpus chars);
    // pinned once because every coverage round left-anti-joins it
    val charSet =
      if (charCoverage) singles.select("piece").localCheckpoint() else null
    var vocab = withUnigramLogp(seed).localCheckpoint()
    var seg: DataFrame = null
    for (_ <- 1 to iters) {
      seg = viterbiSegment(words, vocab).localCheckpoint()
      val used = seg.select(col("n"), explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(sum(col("n")).as("cnt"))
      // coverage floor: characters the segmentation never used re-enter
      // at cnt = 1 instead of dropping (used chars keep real counts)
      val counts =
        if (!charCoverage) used
        else used.unionByName(
          charSet.join(used, Seq("piece"), "left_anti")
            .select(col("piece"), lit(1L).as("cnt")))
      vocab = withUnigramLogp(counts).localCheckpoint()
    }
    (words, vocab, seg)
  }

  /** M-step: snapped ln(cnt/Σcnt) over a (piece, cnt) table (the
    * 1-row total is the sanctioned scalar broadcast). */
  private def withUnigramLogp(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("cnt")).cast("double").as("tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        snapCol(log(col("cnt").cast("double") / col("tot"))).as("logp"))
  }

  /**
   * One Viterbi E-step, entirely ROW-LOCAL past the candidate join:
   * per word, a dense (end, k)-indexed log-prob array (absent pieces
   * at [[UniNegInf]]), the DP fold carrying (score, backpointer)
   * structs, then the backtrace fold emitting the piece array.
   */
  private def viterbiSegment(words: DataFrame, vocab: DataFrame): DataFrame = {
    val grid = words
      .select(col("word"), col("n"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), e ->
           |  transform(sequence(1, $UniMaxPiece), k ->
           |    named_struct(
           |      'idx', (e - 1) * $UniMaxPiece + k,
           |      'piece', IF(k <= e, substring(word, e - k + 1, k),
           |                  CAST(NULL AS STRING))))))""".stripMargin)).as("g"))
      .select(col("word"), col("n"),
        col("g.idx").as("idx"), col("g.piece").as("piece"))
    val lps = grid
      .join(vocab.select(col("piece"), col("logp")), Seq("piece"), "left")
      .groupBy("word", "n")
      .agg(expr(
        s"""transform(
           |  array_sort(collect_list(named_struct(
           |    'idx', idx, 'lp', coalesce(logp, ${UniNegInf}D)))),
           |  x -> x.lp)""".stripMargin).as("lps"))
    val dpExpr =
      s"""aggregate(sequence(1, length(word)),
         |  array(named_struct('sc', 0.0D, 'bk', 0)),
         |  (acc, e) -> concat(acc, array(array_max(transform(
         |    filter(sequence(1, $UniMaxPiece), k -> k <= e),
         |    k -> named_struct(
         |      'sc', element_at(acc, e - k + 1).sc +
         |            element_at(lps, (e - 1) * $UniMaxPiece + k),
         |      'bk', k))))),
         |  acc -> acc)""".stripMargin
    val backExpr =
      s"""aggregate(sequence(1, length(word)),
         |  named_struct('pos', length(word),
         |               'out', CAST(array() AS ARRAY<STRING>)),
         |  (acc, i) -> IF(acc.pos <= 0, acc,
         |    named_struct(
         |      'pos', acc.pos - element_at(dps, acc.pos + 1).bk,
         |      'out', concat(acc.out, array(substring(word,
         |        acc.pos - element_at(dps, acc.pos + 1).bk + 1,
         |        element_at(dps, acc.pos + 1).bk))))),
         |  acc -> acc.out)""".stripMargin
    lps.withColumn("dps", expr(dpExpr))
      .select(col("word"), col("n"), expr(backExpr).as("pieces"))
  }

  /** Greedy left-to-right single-rule BPE rewrite of a symbol array: a
    * left fold whose accumulator carries the emitted prefix plus one
    * pending symbol — pending `a` followed by `b` emits the merged
    * symbol and clears, anything else flushes the pending one. */
  private def mergePair(s: Column, a: Column, b: Column): Column = {
    val init = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("pend"))
    def acc2(out: Column, pend: Column) =
      struct(out.as("out"), pend.cast("string").as("pend"))
    aggregate(s, init,
      (acc, x) =>
        when(acc.getField("pend").isNull, acc2(acc.getField("out"), x))
          .when(acc.getField("pend") === a && x === b,
            acc2(concat(acc.getField("out"), array(concat(a, b))), lit(null)))
          .otherwise(acc2(concat(acc.getField("out"),
            array(acc.getField("pend"))), x)),
      acc =>
        when(acc.getField("pend").isNull, acc.getField("out"))
          .otherwise(concat(acc.getField("out"), array(acc.getField("pend")))))
  }
}

/**
 * SQL-portable hash arithmetic shared between the Spark operators and the
 * DuckDB oracles: the same SQL text is `expr(...)`'d in Spark and
 * interpolated into oracle queries, so both engines evaluate the identical
 * exact-integer expression tree.
 */
object TextHash {

  /** Modulus for all rolling hashes (fits comfortably in int64 math). */
  val M: Long = 1000000007L

  /**
   * Character-arithmetic token value: length and three probe characters
   * (first, last, middle). Injective on realistic vocabularies; collisions
   * are harmless (it is a hash) — what matters is that `ascii`, `substr`,
   * `length`, `floor` behave identically in Spark and DuckDB.
   */
  def tokenValue(c: String): String =
    s"(CAST(length($c) AS BIGINT)*1000003 + ascii($c)*1009 + " +
      s"ascii(substr($c, CAST(length($c) AS INT), 1))*31 + " +
      s"ascii(substr($c, CAST(floor((length($c)+1)/2.0) AS INT), 1)))"

  /**
   * FULL-STRING Horner char fold, bounded < M — the id-hash value for
   * paths that hash DOCUMENT/VECTOR IDS rather than vocabulary tokens
   * (the IVF sub-split needs injective ids): [[tokenValue]] probes only
   * (length, first, middle, last), which is fine for natural-language
   * vocabularies but collapses INTEGER-STRING id spaces into ~9k
   * collision classes — at 100k sequential ids every class holds ~11
   * ids, so a `hash(id) % n_sub` sub-split degrades into ~30× hot
   * groups (measured at sfx10: max assigned 977 against the 32 cap,
   * pair surface 55× for 10× data). The fold reads EVERY character, so
   * ids are injective into [0, M) up to hash-width limits. Spark
   * spelling (SQL lambda fold; each step keeps acc < M before the ×31,
   * exact int64). [[charFoldDuck]] is the value-identical DuckDB 1.0
   * spelling for the oracles — INCLUDING the empty string: Spark's
   * `sequence(1, 0)` yields the DESCENDING [1, 0] (a two-step fold over
   * `ascii('') = 0`), while DuckDB's `range(1, 1)` is empty, so the raw
   * fold would return 6727 vs 7 on '' — the CASE guard
   * below pins both spellings to the seed 7 there.
   */
  def charFold(c: String): String =
    s"(CASE WHEN length($c) = 0 THEN CAST(7 AS BIGINT) ELSE " +
      s"aggregate(sequence(1, length($c)), CAST(7 AS BIGINT), " +
      s"(acc, i) -> (acc * 31 + ascii(substr($c, i, 1))) % $M) END)"

  /** [[charFold]]'s value in DuckDB 1.0 syntax (list_reduce; DuckDB has
    * no aggregate-with-lambda fold under that name). */
  def charFoldDuck(c: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(range(1, length($c) + 1), i -> " +
      s"CAST(ascii(substr($c, CAST(i AS INT), 1)) AS BIGINT))), " +
      s"(acc, x) -> (acc * 31 + x) % $M)"

  /** One fingerprint term: position-weighted token value, bounded < M. */
  def fingerprintTerm(posCol: String, tokCol: String): String =
    s"(CAST($posCol + 1 AS BIGINT) * ${tokenValue(tokCol)}) % $M"

  /** Word-trigram shingle hash from three token values, bounded < M. */
  def shingleHash(t1: String, t2: String, t3: String): String =
    s"((($t1 * 31 + $t2) % $M) * 31 + $t3) % $M"

  /** Prime modulus 2^31 − 1 for [[avalancheSql]]'s squaring rounds. */
  val P31 = 2147483647L

  /**
   * Engine-neutral AVALANCHE hash: the [[graft.ext.Export.mixBucket]]
   * affine chain (salted) followed by two modular SQUARING rounds mod
   * the prime 2^31−1. The affine chain alone is an LCG — adequate for
   * bucketing, but linear: consumers that read individual BITS of the
   * state (HLL's geometric evidence, Bloom positions) see the input's
   * lattice structure straight through it. Squaring mod a prime is the
   * portable nonlinearity: carries cascade across every bit position,
   * all ops are exact int64 in any engine (state < 2^31 keeps each
   * square < 2^62), and no engine-specific XOR spelling is needed
   * (DuckDB spells xor as a function, Spark as an operator — a shared
   * SQL text can't use either). Result is in [0, 2^31−1).
   */
  def avalancheSql(v: String, salt: Long): String = {
    import graft.ext.Export.{MixA1, MixA2, MixC2, MixMod}
    require(salt >= 0 && salt < MixMod)
    val affine =
      s"((((($v) % ${MixMod - 1}) * $MixA1 + $salt) % $MixMod) * $MixA2 + $MixC2) % $MixMod"
    val sq1 = s"(($affine) * ($affine) + 12345) % $P31"
    s"(($sq1) * ($sq1) + 678910) % $P31"
  }
}
