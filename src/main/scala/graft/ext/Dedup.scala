package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PairSurface
import graft.text.Tokenizer.tokensSql

/**
 * Document deduplication for training-data pipelines: exact duplicates,
 * n-gram (shingle) Jaccard, MinHash-LSH candidate generation, and SimHash.
 *
 * Scale design (the whole point of these operators at 100 TB):
 *   - Nothing here ever materializes all C(N,2) document pairs. Pair
 *     generation always goes through an equi-join on a bounded key — a
 *     shared shingle hash ([[jaccardPairs]]), a shared (band, minhash)
 *     bucket ([[minHashCandidates]]) — so the shuffle key distributes and
 *     AQE can split residual skew.
 *   - Shingle/minhash/simhash arithmetic is exact int64 SQL built from
 *     [[TextHash]] primitives: portable across engines (DuckDB oracle
 *     checks it exactly) and whole-stage-codegen'd in Spark (no UDFs).
 *   - Per-document state (signatures, sketches) is one aggregate over the
 *     shingle table: map-side partial aggregation applies throughout.
 */
object Dedup {

  import TextHash.M

  /**
   * Exact-duplicate grouping: every doc mapped to the smallest doc id with
   * byte-identical text. Singletons map to themselves.
   *
   * The exchange is keyed by sha2(text) — a fixed-width 64-char key, so
   * shuffle hashing never rescans multi-KB documents — while the window
   * partitions on (hash, full text), which the hash-only partitioning
   * already clusters (no second exchange) and which keeps the grouping
   * collision-proof: two texts colliding on sha2 would still land in
   * different window partitions.
   */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("gr_text"))
      .withColumn("gr_hash", sha2(col("gr_text").cast("binary"), 256))
      .repartition(col("gr_hash"))
      .select(
        col("doc_id"),
        min(col("doc_id"))
          .over(Window.partitionBy(col("gr_hash"), col("gr_text"))).as("rep_id"))

  /**
   * Text canonicalization for formatting-insensitive dedup: casefold,
   * strip everything but letters/digits/whitespace (Unicode classes, so
   * non-Latin text survives), collapse whitespace runs, trim. The same
   * regex text runs in any RE2/Java-regex engine, so the DuckDB oracle
   * mirrors it exactly.
   */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^\\p{L}\\p{N}\\s]", " "), "\\s+", " "))

  /**
   * Exact-duplicate grouping after [[normalizeText]] canonicalization —
   * catches duplicates that differ only in case, punctuation, or
   * whitespace (the first dedup pass of C4-style pipelines, between
   * byte-exact [[exact]] and the near-dup detectors). Same scale shape
   * as [[exact]]: one fixed-width sha2-keyed exchange.
   */
  def exactNormalized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(docs.withColumn(textCol, normalizeText(col(textCol))), idCol, textCol)

  /** Distinct word-trigram shingles per document, as (doc_id, sh) int64
    * hashes — [[shinglesK]] at n = 3, the shingle table every dedup
    * kernel here consumes. */
  def shingles(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    ngramShingles(docs, idCol, textCol, 3, Nil)

  /** [[shingles]] with `keepCols` riding along unchanged (e.g. an
    * event-time column a downstream watermark needs). Row-local, so it
    * runs unchanged on unbounded streams. */
  def shinglesLocal(docs: DataFrame, idCol: String, textCol: String,
      keepCols: Seq[String] = Nil): DataFrame =
    ngramShingles(docs, idCol, textCol, 3, keepCols)

  /**
   * Row-local word n-gram shingles for ANY n ≥ 2. The standard
   * decontamination recipe is 13-gram (GPT-3 appendix C; The Pile):
   * trigrams flag topical overlap, 13-token runs flag verbatim leakage —
   * both probes exist because they answer different questions.
   */
  def shinglesK(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    ngramShingles(docs, idCol, textCol, n, Nil)

  /** The shinglers' one plan: one token-value array per document, one
    * explode of its distinct n-gram hashes ([[ngramArraySql]]). Array
    * HOFs inside each row and no window function, so shingling is a
    * pure map stage with ZERO exchanges — at cluster scale a window or
    * `distinct` form would move the whole token table across the
    * network twice. Documents with fewer than `n` tokens emit nothing. */
  private def ngramShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int, keepCols: Seq[String]): DataFrame =
    docs
      .select(col(idCol).as("doc_id") +: keepCols.map(col) :+
        expr(tokenValuesSql(textCol)).as("tvs"): _*)
      .where(size(col("tvs")) >= n)
      .select(col("doc_id") +: keepCols.map(col) :+
        explode(expr(ngramArraySql("tvs", n))).as("sh"): _*)

  /** Token-value array SQL: each token of the token rule
    * ([[graft.text.Tokenizer.tokensSql]]) → int64 hash. Token values materialize
    * ONCE into an array (each token feeds up to n grams — recomputing the
    * character probes per gram position would multiply the hash
    * arithmetic). */
  private[graft] def tokenValuesSql(textCol: String): String =
    s"transform(${tokensSql(textCol)}, t -> ${TextHash.tokenValue("t")})"

  /** The word `n`-gram hashes ([[ngramHashSql]]) over a token-value array
    * column as ONE array: the distinct hashes, or with `distinct = false`
    * every hash in token order. The one n-gram kernel — the shinglers
    * explode it, [[winnow]] folds over it, and the Bloom probe in
    * [[graft.streaming.DedupStream.cleanStream]] tests a document's
    * shingles without leaving its row. Fewer than `n` tokens → empty
    * array (the CASE guard matters: Spark's `sequence(1, 0)` counts
    * DOWN, it is not empty). */
  private[graft] def ngramArraySql(tvsCol: String, n: Int,
      distinct: Boolean = true): String = {
    require(n >= 2, s"n must be >= 2, got $n")
    val h = ngramHashSql((0 until n).map(off => s"element_at($tvsCol, i + $off)"))
    val grams = s"transform(sequence(1, size($tvsCol) - ${n - 1}), i -> $h)"
    s"CASE WHEN size($tvsCol) < $n THEN CAST(array() AS ARRAY<BIGINT>) ELSE " +
      (if (distinct) s"array_distinct($grams)" else grams) + " END"
  }

  /**
   * Exact pairwise shingle-Jaccard for every pair sharing at least one
   * shingle — the verification kernel for every near-dup method here.
   * The self-equi-join on `sh` is the scale-safe pair generator: output
   * is bounded by Σ_shingle C(docs_with_shingle, 2), not C(N,2).
   *
   * `maxDf` (document-frequency cap) is the Zipf-head guard that bound
   * needs at corpus scale — see [[dfCapShingles]].
   */
  def jaccardPairs(sh: DataFrame, maxDf: Option[Long] = None): DataFrame =
    overlapCounts(sh, maxDf).select(col("doc0"), col("doc1"), jaccardCol)

  /**
   * Shingle document-frequency cap, the dedup mirror of
   * [[graft.core.CosineAnalysis.dfCap]]: drop every shingle present in
   * more than `maxDf` documents BEFORE any pair generation. One
   * boilerplate shingle shared by a large fraction of N docs contributes
   * ~C(N,2) pairs all by itself, and a shingle that common carries ~zero
   * similarity signal (it is the shingle-space stop word). Capping
   * bounds every shingle's pair expansion at C(maxDf, 2); pairs whose
   * shingles all sit below the cap keep their uncapped answer
   * ([[graft.core.PairSurface.cap]] semantics).
   */
  def dfCapShingles(sh: DataFrame, maxDf: Long): DataFrame =
    PairSurface.cap(sh, Seq("sh"), maxDf)

  /** Shared pair-overlap kernel: for every pair sharing ≥1 shingle, the
    * intersection size and both set sizes — (doc0, doc1, i, n0, n1) in
    * canonical id order. Output is bounded by Σ_sh C(docs_with_sh, 2);
    * `maxDf` ([[dfCapShingles]]) bounds each term at C(maxDf, 2). */
  private def overlapCounts(sh: DataFrame, maxDf: Option[Long] = None): DataFrame = {
    val capped = maxDf.fold(sh)(dfCapShingles(sh, _))
    withSizes(sharedCounts(capped, "i"), docSizes(capped))
  }

  /** Shared-shingle count `as` per (doc0, doc1): the shingle-keyed
    * [[PairSurface.pairs]] join and one map-side-partial count, Σ_sh
    * C(df, 2) skinny rows. */
  private def sharedCounts(sh: DataFrame, as: String): DataFrame =
    PairSurface.pairs(sh, Seq("sh"), "doc_id")
      .groupBy(col("a.doc_id").as("doc0"), col("b.doc_id").as("doc1"))
      .agg(count(lit(1)).as(as))

  /** Shared-shingle count `as` of the given (doc0, doc1) pairs only,
    * CANDIDATE-FIRST: each pair meets its endpoints' shingle rows through
    * two id equi-joins — |pairs| × shingles-per-doc rows, never the
    * co-shingled surface. */
  private def candidateCounts(pairs: DataFrame, sh: DataFrame, as: String): DataFrame =
    pairs
      .join(sh.select(col("doc_id").as("doc0"), col("sh")), Seq("doc0"))
      .join(sh.select(col("doc_id").as("doc1"), col("sh")), Seq("doc1", "sh"))
      .groupBy("doc0", "doc1").agg(count(lit(1)).as(as))

  /** Per-document shingle count (doc_id, n): the set sizes. */
  private def docSizes(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n"))

  /** `pairs` with each endpoint's per-document size from `sizes`
    * (doc_id, n) as `n0`/`n1` — the one size join of every pair kernel. */
  private def withSizes(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.select(col("doc_id").as("doc0"), col("n").as("n0")), "doc0")
      .join(sizes.select(col("doc_id").as("doc1"), col("n").as("n1")), "doc1")

  /** Jaccard from the overlap `i` and the set sizes `n0`, `n1`. */
  private def jaccardCol: Column =
    (col("i").cast("double") / (col("n0") + col("n1") - col("i"))).as("jaccard")

  /**
   * Threshold-calibration sweep for the exact Jaccard kernel — the
   * table a curation run reads BEFORE committing to a `minJaccard`:
   * for each candidate threshold, how many pairs would match and how
   * many distinct documents those pairs touch (the removal-volume
   * upper bound). One pass over the SAME pair table every exact kernel
   * already produces — the sweep is a fan-out of comparisons, not a
   * re-join per threshold. Comparisons use the UNsnapped ratio (exact
   * integer operands make the division bit-identical cross-engine, the
   * [[weightedJaccardDups]] argument), so every threshold cut agrees
   * in any engine. Thresholds with zero matches keep their row.
   *
   * Scale shape: the pair join is the bounded [[jaccardPairs]] kernel
   * (df-cap applies); the sweep explodes each pair row ×|thresholds|
   * (a constant), then two result-sized aggregates keyed by threshold
   * and a |thresholds|-row assembly join.
   */
  def jaccardThresholdSweep(docs: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double], maxDf: Option[Long] = None): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val pairs = jaccardPairs(shingles(docs, idCol, textCol), maxDf)
    val expl = pairs.select(col("doc0"), col("doc1"),
        explode(array(thresholds.map(lit): _*)).as("t"), col("jaccard"))
      .where(col("jaccard") >= col("t"))
    val nPairs = expl.groupBy("t").agg(count(lit(1)).as("n_pairs"))
    val nDocs = expl
      .select(col("t"), explode(array(col("doc0"), col("doc1"))).as("d"))
      .distinct()
      .groupBy("t").agg(count(lit(1)).as("n_docs"))
    docs.sparkSession.createDataFrame(thresholds.map(Tuple1(_))).toDF("t")
      .join(nPairs, Seq("t"), "left")
      .join(nDocs, Seq("t"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs"))
  }

  /**
   * Per-document shingle novelty — the n-gram-level memorization/
   * redundancy readout (the Lee et al. 2022 "how much of this document
   * is new text" question at corpus grain): for each document, the count
   * of its distinct trigram shingles, how many of them FIRST occur in
   * this document (first occurrence = smallest doc_id owning the
   * shingle — a deterministic total order, so the attribution replays
   * exactly), and the novel fraction. A low-novelty tail is boilerplate
   * even when no single pair crosses a dedup threshold — this is the
   * corpus-health histogram a curation run reads next to the pair
   * tables. Documents under 3 tokens have no shingles and no row (the
   * [[shingles]] convention).
   *
   * Scale shape: the shingle table every dedup kernel already produces,
   * ONE shingle-keyed min aggregate (map-side partials), one equi-join
   * back riding the same shingle-hash shuffle key, one doc-keyed
   * aggregate. Nothing pairwise, nothing quadratic — novelty is strictly
   * cheaper than any join kernel over the same shingles.
   */
  def shingleNovelty(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = shingles(docs, idCol, textCol)
    val first = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  /** Near-duplicate pairs by exact n-gram Jaccard at `minJaccard`.
    * `maxDf` caps per-shingle pair expansion ([[dfCapShingles]]). */
  def ngramJaccardDups(docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.2, maxDf: Option[Long] = None): DataFrame =
    jaccardPairs(shingles(docs, idCol, textCol), maxDf)
      .where(col("jaccard") >= minJaccard)

  /**
   * Exact WEIGHTED Jaccard near-dup join over unigram term frequencies:
   * `wJ(A,B) = Σ_t min(tf_A(t), tf_B(t)) / Σ_t max(tf_A(t), tf_B(t))` —
   * the multiset generalization the set-based kernels here cannot see
   * (a document that repeats one paragraph five times set-matches its
   * single-copy source perfectly; the tf weighting exposes it).
   * Computed over the df ≤ `maxDf` token sub-vocabulary, the same
   * contract as [[dfCapShingles]]: a corpus-wide token contributes
   * ~C(N,2) pairs and near-zero signal, so it is excluded from the
   * numerator, BOTH denominators, and pair generation alike (pairs
   * sharing only capped tokens are absent by design).
   *
   * Scale shape mirrors [[jaccardPairs]]: one (doc, token) tf aggregate,
   * one df aggregate for the cap, the token-keyed pair self-join bounded
   * at C(maxDf, 2) per token, and result-sized joins back to per-doc tf
   * totals (Σmax = S₀ + S₁ − Σmin, so only Σmin needs the pair join).
   * All counts are exact integers; only the final ratio is floating.
   * Duplicate ids: rows that share an id are one document holding all
   * their tokens (their term frequencies add up).
   */
  def weightedJaccardDups(docs: DataFrame, idCol: String, textCol: String,
      minWj: Double = 0.5, maxDf: Long = 200): DataFrame = {
    val tf = TextAnalysis.tokenArray(docs, idCol, textCol)
      .select(col("doc_id"), explode(col("t")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val capped = PairSurface.cap(tf, Seq("token"), maxDf)
    val smin = PairSurface.pairs(capped, Seq("token"), "doc_id")
      .groupBy(col("a.doc_id").as("doc0"), col("b.doc_id").as("doc1"))
      .agg(sum(least(col("a.tf"), col("b.tf"))).as("smin"))
    withSizes(smin, capped.groupBy("doc_id").agg(sum(col("tf")).as("n")))
      .select(col("doc0"), col("doc1"),
        (col("smin").cast("double") /
          (col("n0") + col("n1") - col("smin")).cast("double")).as("wjaccard"))
      .where(col("wjaccard") >= minWj)
  }

  /** The per-document PREFIX of the rarity-ordered shingle list — the
    * first `n − ⌈t·n⌉ + 1` shingles by (df, sh) order, the rows
    * [[prefixCandidates]] joins over. The threshold enters in pure
    * integer arithmetic (`ceil(t·n)` = `(num·n + den − 1) DIV den` on a
    * 1/1000 grid) — integral DIV, never Spark's Divide (which returns
    * DOUBLE on long operands and is exact only below 2^53), so no float
    * rounding can shorten a prefix below the lemma's bound at ANY n. */
  private def prefixTable(sh: DataFrame, minJaccard: Double): DataFrame = {
    val (num, den) = (math.round(minJaccard * 1000).toInt, 1000)
    require(num > 0 && num <= den, "minJaccard must be in (0, 1]")
    val dfs = sh.groupBy("sh").agg(count(lit(1)).as("df_sh"))
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val alpha = expr(s"(${num}L * n + ${den - 1}L) DIV ${den}L")
    sh.join(dfs, "sh").join(n, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df_sh"), col("sh"))))
      .where(col("rk") <= col("n") - alpha + lit(1L))
      .select("doc_id", "sh")
  }

  /**
   * Prefix-filtering candidate generation (AllPairs / PPJoin family —
   * Bayardo et al. WWW'07, Xiao et al. WWW'08): the EXACT sub-quadratic
   * similarity join. Order every document's shingles by global rarity
   * (ascending document frequency, ties by shingle value — one total
   * order shared by all docs), and keep only each document's first
   * `n − ceil(t·n) + 1` shingles as its "prefix". Prefix-filtering
   * lemma: if J(A,B) ≥ t then |A∩B| ≥ ceil(t·max(|A|,|B|)), and two
   * sorted sets with overlap ≥ α MUST share an element within their
   * (size − α + 1)-prefixes — so joining prefixes only is LOSSLESS.
   * Unlike MinHash banding there is no recall curve to tune: candidates
   * are a provable superset of every qualifying pair, and exact
   * verification ([[jaccardFor]]) makes the final answer byte-identical
   * to the exhaustive [[jaccardPairs]] kernel.
   *
   * The threshold enters the PREFIX-LENGTH rule in pure integer
   * arithmetic (`ceil(t·n)` = `(num·n + den − 1) div den` with
   * t = num/den on a 1/1000 grid) so no float rounding can ever shorten
   * a prefix below the lemma's bound — float noise in `ceil` is the
   * classic way prefix filters silently drop pairs.
   *
   * Scale shape: prefixes are built with one df aggregate, one count
   * aggregate, and one rank window keyed by doc_id (single exchange);
   * the candidate join runs only over prefix shingles — by construction
   * the RAREST shingles of each doc — so the Σ_sh C(df,2) blow-up that
   * forces `maxDf` caps on the full kernel never materializes: common
   * shingles sit at the END of the rarity order and are exactly the
   * ones the prefix excludes. This is the exact-answer scale path; the
   * full [[jaccardPairs]] kernel stays as the calibration tool.
   *
   * Measured trade (bench_out.json, sf0.1): the prefix route shuffles
   * 2.8× fewer bytes than the exhaustive kernel (3.3 vs 9.2 MB written)
   * — the number that scales — while paying ~2× wall overhead at this
   * small sf for its extra df/count aggregates and rank window, the
   * same constant-vs-asymptote trade the ANN twins document.
   */
  def prefixCandidates(sh: DataFrame, minJaccard: Double): DataFrame =
    PairSurface.bandPairs(prefixTable(sh, minJaccard), Seq("sh"), "doc_id")

  /**
   * Exact Jaccard near-dup pairs via [[prefixCandidates]] + bounded
   * verification — identical output to [[ngramJaccardDups]] at the same
   * threshold (pinned by spec AND by an exhaustive-kernel oracle), with
   * the candidate surface of a prefix filter instead of the full
   * shared-shingle kernel. The shingle table feeds both the candidate
   * and the verification branch; pass `pin = _.localCheckpoint()` to
   * shingle the corpus once (caller-owned caching, the [[dupGroups]]
   * convention).
   *
   * EAGER EXECUTION NOTE:
   * [[jaccardForBySh]]'s auto prune gate runs a 1-row aggregate+collect
   * over the (capped) shingle table at DataFrame-CONSTRUCTION time, so
   * calling this executes one corpus pass immediately — and with the
   * default `pin = identity` that pass re-derives the shingle chain
   * from the source scan. Library callers who need lazy construction or
   * a single shingle derivation should pass the checkpoint pin (the
   * contract entries do) or force the gate via
   * `jaccardForBySh(..., pruneCandidateDocs = Some(b))`.
   *
   * Duplicate ids: every input row adds its shingles again, so a
   * repeated doc-id row counts into both the set sizes and the overlaps
   * (an id repeated k times beside a copy of its text scores k) — the
   * [[minHashDups]] answer. Deduplicate rows by id first.
   */
  def prefixJaccardDups(docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.3,
      pin: DataFrame => DataFrame = identity,
      maxDf: Option[Long] = None): DataFrame = {
    // `maxDf`: the [[dfCapShingles]] Zipf-head kill switch, threaded
    // with POPULATION-CONSISTENT semantics — the cap is applied ONCE,
    // before BOTH the candidate and the verify branch, so the prefix
    // filter's lossless lemma holds over the capped population (capped
    // candidate rule + capped Jaccard = exhaustive capped kernel;
    // capping only one side would break the prefix-length bound). Without it a boilerplate shingle shared by
    // k candidate docs costs C(k, 2) verify rows no matter how well the
    // prefix filter pruned — the same hot-key class as basketRules'
    // maxBasket, priced by the dedup_jaccard_prefix_head bench pair.
    val sh0 = pin(shingles(docs, idCol, textCol))
    val sh = maxDf.fold(sh0)(dfCapShingles(sh0, _))
    // intersection-first verification: at low thresholds the prefix
    // candidates are a constant fraction of the sharing surface, so the
    // pair-first jaccardFor ships each doc's shingle set per pair
    // (measured 72 GB / disk-fill at 100×); see jaccardForBySh's regime note
    jaccardForBySh(prefixCandidates(sh, minJaccard), sh)
      .where(col("jaccard") >= minJaccard)
      .select("doc0", "doc1", "jaccard")
  }

  /**
   * Asymmetric containment near-duplicates (Broder 1997's containment
   * coefficient, |A∩B| / min(|A|,|B|)): the subset-duplication detector.
   * A short document quoted wholesale inside a much longer one has
   * containment ≈ 1 while its Jaccard — normalized by the UNION — sits
   * below any usable dedup threshold, so the symmetric passes
   * ([[ngramJaccardDups]], [[minHashDups]]) structurally miss the
   * quote-expansion / boilerplate-wrapper case this operator exists for.
   * Emits (doc0, doc1, containment, n0, n1) at `minContainment`,
   * canonical id order; the sizes let the caller pick which side is the
   * contained one (the smaller shingle set).
   *
   * Scale shape: identical bounded pair generator as [[jaccardPairs]] —
   * the shingle self-equi-join bounds pairs by shared-shingle collisions,
   * never C(N,2) — with the same [[dfCapShingles]] `maxDf` guard. This is
   * the EXACT kernel: use it for calibration corpora and verification.
   * The production-scale route is [[containmentSketchDups]] — note that
   * banded MinHash candidates canNOT stand in here: asymmetric
   * containment pairs have low Jaccard by construction (a short doc
   * inside a long one is normalized by the UNION), and low-Jaccard pairs
   * are exactly what banding misses (the repo's own dedup_recall curve:
   * ~27% at j = 0.2).
   */
  def containmentDups(docs: DataFrame, idCol: String, textCol: String,
      minContainment: Double = 0.6, maxDf: Option[Long] = None): DataFrame =
    overlapCounts(shingles(docs, idCol, textCol), maxDf)
      .withColumn("containment", col("i").cast("double") / least(col("n0"), col("n1")))
      .where(col("containment") >= minContainment)
      .select("doc0", "doc1", "containment", "n0", "n1")

  /** Mod-hash sketch sampling rate: one shingle in [[SketchMod]] survives
    * (in expectation) into the sketch. Part of the operator contract —
    * the oracle mirrors the constant. */
  val SketchMod = 4

  /** Universal-hash constants for the sketch selector, distinct from
    * every [[HashParams]] pair so sketch membership is independent of the
    * MinHash signatures. */
  val SketchHashA = 1000211L
  val SketchHashB = 424243L

  /**
   * Broder mod-hash shingle sketch (Broder 1997, "On the resemblance and
   * containment of documents", §4's MOD_m construction): keep exactly the
   * shingles whose universal hash is ≡ 0 (mod `mod`). Selection is a
   * deterministic function of the SHINGLE — the same shingle is kept or
   * dropped in every document — which is the property the containment
   * estimator needs: sketch(A) ∩ sketch(B) = sketch(A ∩ B), so
   * |sk(A)∩sk(B)| / |sk(A)| is an unbiased estimate of |A∩B| / |A|.
   * (Bottom-k MIN_s sketches estimate resemblance but not containment
   * without the union sketch; MOD_m gives containment directly.)
   *
   * A pure filter on the shingle table — no exchange, no state.
   */
  def shingleSketch(sh: DataFrame, mod: Int = SketchMod): DataFrame = {
    require(mod >= 1)
    sh.where(expr(s"(($SketchHashA * sh + $SketchHashB) % $M) % $mod") === 0)
  }

  /**
   * Containment near-duplicates over the mod-hash sketch — the
   * sub-quadratic route [[containmentDups]] lacks: candidates are
   * pairs sharing a SKETCHED shingle, and the
   * containment estimate is |sk(A)∩sk(B)| / min(|sk(A)|, |sk(B)|) —
   * Broder's MOD_m estimator with the same min-normalization as the
   * exact kernel. Emits (doc0, doc1, containment, sk0, sk1) at
   * `minContainment` in canonical id order; sk0/sk1 are the SKETCH sizes
   * (the estimate's sample sizes — small values mean a noisy estimate,
   * and `minSketch` drops docs whose sketch is too small to estimate
   * from; such docs are short enough for the exact kernel).
   *
   * Why this finds what banded MinHash cannot: a short doc A quoted
   * wholesale inside a long doc B shares ALL its shingles with B, hence
   * all its SKETCHED shingles too — the pair is a candidate whenever
   * sk(A) is non-empty, with estimated containment exactly 1.0,
   * regardless of how low its Jaccard is. Banded MinHash candidates
   * collide with probability 1-(1-j²)⁸ — ~7% at the j ≈ 0.1 such pairs
   * actually have.
   *
   * Scale shape: the self-equi-join runs on the 1/mod-sampled shingle
   * table, shrinking the shared-shingle pair surface by ~mod× (and the
   * shuffled rows by mod×); `maxDf` caps the Zipf head of the SKETCHED
   * table exactly as in the exact kernel (both guards compose — the
   * sample keeps 1/mod of each shingle's df, so cap the sketch, not the
   * input). Everything is equi-join + map-side-partial aggregate; no
   * driver actions.
   */
  def containmentSketchDups(docs: DataFrame, idCol: String, textCol: String,
      minContainment: Double = 0.6, mod: Int = SketchMod,
      minSketch: Long = 1L, maxDf: Option[Long] = None): DataFrame =
    overlapCounts(shingleSketch(shingles(docs, idCol, textCol), mod), maxDf)
      .where(col("n0") >= minSketch && col("n1") >= minSketch)
      .withColumn("containment", col("i").cast("double") / least(col("n0"), col("n1")))
      .where(col("containment") >= minContainment)
      .select(col("doc0"), col("doc1"), col("containment"),
        col("n0").as("sk0"), col("n1").as("sk1"))

  /**
   * Character-level edit-distance near-dup pairs with prefix blocking —
   * the record-linkage workhorse (Levenshtein ≤ `maxDist` after
   * [[normalizeText]] canonicalization) for SHORT text: titles, names,
   * URLs, OCR output, where a one-character typo is the whole difference
   * and shingle Jaccard is too coarse (a 1-char edit inside a token
   * flips all 3 trigrams through it).
   *
   * Candidate generation is standard blocking: pairs must share their
   * normalized `prefixLen`-char prefix AND sit within `maxDist` of each
   * other in length. That makes pair generation an EQUI-join on the
   * block key — bounded by Σ_block C(block_size, 2), never C(N,2) — and
   * the verify step runs Spark's thresholded `levenshtein(l, r, k)`,
   * which abandons a pair after cost k (O(k·len) per pair, not
   * O(len²)). Recall caveat, documented not hidden: an edit INSIDE the
   * first `prefixLen` chars moves the pair to different blocks and is
   * missed — the classic blocking trade. Multi-pass blocking (prefix +
   * suffix, or q-gram keys) is the standard recall escalation; the
   * suffix pass is this same function over `reverse(text)`.
   *
   * Scale: the block key is low-cardinality-skew-prone on templated
   * corpora (every doc starting "the quick…" lands in one block);
   * `maxBlock` guards it — blocks larger than `maxBlock` docs are
   * dropped whole (same Zipf-head semantics as [[dfCapShingles]]: a
   * block that common is template chrome, not near-dup signal).
   *
   * Duplicate ids: each input row is its own record, so a pair is
   * emitted once per matching row pair.
   */
  def editDistanceDups(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, prefixLen: Int = 12,
      maxBlock: Option[Long] = None): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    require(maxBlock.forall(_ >= 2),
      s"maxBlock must be >= 2: a block below 2 can never pair, got ${maxBlock.get}")
    val n = docs.select(col(idCol).as("id"),
        normalizeText(col(textCol)).as("txt"))
      .withColumn("blk", substring(col("txt"), 1, prefixLen))
      .withColumn("len", length(col("txt")).cast("long"))
    val blocked = maxBlock.fold(n)(PairSurface.cap(n, Seq("blk"), _))
    PairSurface.pairs(blocked, Seq("blk"), "id")
      .where(abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("doc0"), col("b.id").as("doc1"),
        levenshtein(col("a.txt"), col("b.txt"), maxDist).as("dist"))
      .where(col("dist") >= 0)
      .select(col("doc0"), col("doc1"), col("dist").cast("long").as("dist"))
  }

  /** The sorted-neighborhood sort key: the normalized text's first 8
    * characters packed into ONE int64 (Horner base-128, codepoints
    * capped at 127, space-padded) — integer-exact in any engine,
    * locality-preserving for prefix-similar records. Shared by the
    * Spark side and the oracle verbatim. */
  private[graft] def snmKeySql(txt: String): String =
    (1 to 8).map { i =>
      val p = math.pow(128, 8 - i).toLong
      s"least(ascii(substr(rpad($txt, 8, ' '), $i, 1)), 127) * CAST($p AS BIGINT)"
    }.mkString("(", " + ", ")")

  /**
   * Sorted-neighborhood near-dup detection (Hernández & Stolfo 1995,
   * merge/purge) — the THIRD blocking family next to MinHash banding
   * (probabilistic recall) and prefix filtering (threshold-exact): sort
   * the corpus once by a locality-preserving key and compare each record
   * only against its `window − 1` successors in that order. Exactly
   * N·(window−1) candidate pairs BY CONSTRUCTION — no band, bucket, or
   * block can blow up, which is both its scale guarantee and its honest
   * recall limit (near-dups whose keys sort far apart are missed; the
   * classic mitigation is multiple passes under different keys).
   *
   * Scale shape: the global order comes from the
   * [[graft.ext.Export.rangeShards]] machinery — histogram-sketched
   * range boundaries, within-shard row_number, plus a shard-count
   * prefix-sum over ≤ nShards rows (model-sized, broadcast back) — so
   * NO single-reducer global sort exists anywhere. Neighbor candidates
   * are an equi-join of rank against rank + d for d ∈ [1, window), and
   * only they pay the thresholded-levenshtein verify
   * ([[editDistanceDups]]' convention: length prefilter, cap-bounded
   * distance). Output is canonical (doc0 < doc1, dist ≤ maxDist).
   */
  def sortedNeighborhoodDups(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, maxDist: Int = 6, nShards: Int = 32): DataFrame = {
    require(window >= 2 && maxDist >= 0 && nShards >= 1)
    val n = docs.select(col(idCol).as("doc_id"),
        normalizeText(col(textCol)).as("txt"))
      .withColumn("key", expr(snmKeySql("txt")))
    val ranked = Export.rangeShards(n, "doc_id", "key", nShards,
      width = 1L << 40)
    val offsets = ranked.groupBy("shard").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
          .orderBy("shard")
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(col("shard"), col("off"))
    val granked = ranked
      .join(broadcast(offsets), "shard")
      .select(col("doc_id"), (col("pos") + col("off")).as("grank"))
      .join(n.select(col("doc_id"), col("txt")), "doc_id")
    val succ = granked.select(col("grank").as("g2"),
      col("doc_id").as("idB"), col("txt").as("tB"))
    granked
      .withColumn("d", explode(expr(s"sequence(1, ${window - 1})")))
      .withColumn("g2", col("grank") + col("d"))
      .join(succ, "g2")
      .where(abs(length(col("txt")) - length(col("tB"))) <= maxDist)
      .withColumn("dist", levenshtein(col("txt"), col("tB"), maxDist))
      .where(col("dist") >= 0)
      .select(least(col("doc_id"), col("idB")).as("doc0"),
        greatest(col("doc_id"), col("idB")).as("doc1"),
        col("dist").cast("long").as("dist"))
  }

  /**
   * Cross-document repeated-span statistics — the detection half of
   * substring-level dedup (Lee et al. 2022, "Deduplicating Training Data
   * Makes Language Models Better": exact-match spans of ~50 tokens
   * repeated across a corpus are memorization hotspots). For every
   * document: the number of overlapping `n`-token windows, how many of
   * them also occur in at least one OTHER document, and the duplicated
   * fraction — the per-document signal a scrub or quality gate keys on.
   * Documents shorter than `n` tokens report zero windows.
   *
   * Scale shape: window explosion is row-local (array HOFs, ~len rows per
   * doc); each window becomes a fixed-width sha256 key, so the two
   * aggregates and the join-back shuffle 64-byte keys, never the text.
   * Σ len(doc) rows ≫ doc count, but that is the problem's inherent size;
   * nothing here is quadratic and no driver action exists. The distinct
   * window count shrinks the second shuffle; skew on a viral span is
   * bounded by count-distinct semantics (the groupBy carries doc_id only
   * long enough to count distinct docs per span).
   */
  def spanStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val spans = spanHashes(docs, idCol, textCol, n).select("doc_id", "h")
    val dup = spans.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1)
      .select(col("h"), lit(1L).as("isdup"))
    val per = spans.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        coalesce(sum(col("isdup")), lit(0L)).as("dup_spans"))
    docs.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        when(col("n_spans") > 0,
          col("dup_spans").cast("double") / col("n_spans"))
          .otherwise(lit(0.0)).as("dup_fraction"))
  }

  /** (doc_id, t, p, h): token array plus one row per `n`-token window —
    * 1-based start position and the window's sha256. Shared by
    * [[spanStats]] / [[spanScrub]]; the explosion is row-local. */
  private def spanHashes(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = tokensSql(textCol)
    val windows =
      s"""transform(sequence(1, size(t) - ${n - 1}),
         |  i -> struct(i AS p, sha2(array_join(slice(t, i, $n), ' '), 256) AS h))""".stripMargin
    docs
      .select(col(idCol).as("doc_id"), expr(toks).as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"), col("t"), explode(expr(windows)).as("w"))
      .select(col("doc_id"), col("t"), col("w.p").as("p"), col("w.h").as("h"))
  }

  /**
   * Substring-level scrub — the removal half of Lee et al. 2022 (cf.
   * [[spanStats]] for detection): every token covered by a cross-document
   * duplicated `n`-token span is dropped from every document EXCEPT the
   * span's owner (the smallest doc id containing it — "keep first
   * occurrence", the paper's rule), and the surviving tokens are rejoined.
   * Intra-document repeats are untouched; a document can scrub to the
   * empty string. Returns (doc_id, text) for every input document.
   *
   * Scale shape: the same fixed-width-key aggregate as [[spanStats]] plus
   * one join-back and one per-document `collect_set` of covered START
   * positions (bounded by the doc's own dup-window count, never
   * corpus-sized); the final token filter is a row-local HOF over
   * (position, start-set). No driver actions, nothing quadratic.
   */
  def spanScrub(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = tokensSql(textCol)
    val spans = spanHashes(docs, idCol, textCol, n)
    val owners = spans.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("owner"))
      .where(col("nd") > 1)
      .select("h", "owner")
    val drops = spans.join(owners, "h")
      .where(col("owner") =!= col("doc_id"))
      .groupBy("doc_id").agg(collect_set(col("p")).as("starts"))
    docs
      .select(col(idCol).as("doc_id"), expr(toks).as("t"))
      .join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), expr(
        s"""array_join(
           |  filter(t, (tok, i) ->
           |    NOT exists(coalesce(starts, array()),
           |               s -> i + 1 >= s AND i + 1 < s + $n)),
           |  ' ')""".stripMargin).as("text"))
  }

  /**
   * Fixed MinHash parameters: 16 universal-hash functions (a·x + b) mod M.
   * Constants are part of the operator contract (the oracle mirrors them).
   */
  val HashParams: Seq[(Long, Long)] = Seq(
    (1000003L, 12345L), (1000033L, 54321L), (1000037L, 98765L), (1000039L, 13579L),
    (1000081L, 24680L), (1000099L, 11111L), (1000117L, 22222L), (1000121L, 33333L),
    (1000133L, 44444L), (1000151L, 55555L), (1000159L, 66666L), (1000171L, 77777L),
    (1000183L, 88888L), (1000187L, 99999L), (1000193L, 10101L), (1000199L, 20202L))

  /** Per-document MinHash signature: one column sig_j per hash function. */
  def minHashSignatures(sh: DataFrame): DataFrame = {
    val aggs = HashParams.zipWithIndex.map { case ((a, b), j) =>
      min(expr(s"($a * sh + $b) % $M")).as(s"sig_$j")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Rows per LSH band: 16 minhashes → 8 bands × 2 rows. */
  val BandRows = 2

  /** SQL text combining band `b`'s minhashes into one int64 key
    * (shared verbatim with the DuckDB oracle). */
  def bandKeyExpr(b: Int): String =
    (0 until BandRows)
      .map(r => s"sig_${b * BandRows + r}")
      .reduce((acc, s) => s"(($acc * 31 + $s) % $M)")

  /**
   * LSH candidate pairs: docs agreeing on ALL minhash values of some
   * band (8 bands × 2 rows). The join key is (band, combined band hash),
   * so candidate generation is an equi-join, never an all-pairs scan.
   *
   * Band width matters at scale: 1-row bands collide whenever ONE minhash
   * agrees, and the minhash of a corpus-common shingle agrees across
   * thousands of documents — C(n,2) pairs from a single bucket (measured:
   * 5× the whole pipeline's cost at sf0.1). 2-row bands need two
   * simultaneous agreements, so buckets stay near-singleton for unrelated
   * docs (P = j² per band) while near-dups collide with
   * P = 1-(1-j²)⁸ (≈ 0.83 at j = 0.45, ≈ 1 at j ≥ 0.8).
   * Mass-duplicate corpora should run [[exact]] first — identical docs
   * always share every bucket.
   */
  def minHashCandidates(sigs: DataFrame): DataFrame =
    PairSurface.bandPairs(minHashBands(sigs), Seq("band", "bkey"), "doc_id")

  /** One (doc_id, band, bkey) row per document per LSH band — the join key
    * table behind [[minHashCandidates]], exposed for index-building
    * pipelines (e.g. [[graft.streaming.DedupStream]]'s parquet index). */
  def minHashBands(sigs: DataFrame): DataFrame = {
    val nBands = HashParams.size / BandRows
    val bandKeys = (0 until nBands).map(b => expr(bandKeyExpr(b)).as(s"band_$b"))
    sigs.select(col("doc_id") +: bandKeys: _*)
      .select(col("doc_id"),
        posexplode(array((0 until nBands).map(b => col(s"band_$b")): _*))
          .as(Seq("band", "bkey")))
  }

  /**
   * MinHash banding recall audit — the dedup analogue of the ANN
   * family's recall@k self-check ("measure, don't guess"): every exact
   * n-gram-Jaccard pair at `minJaccard` is bucketed by Jaccard decile
   * and scored by whether the banded LSH candidate generator
   * ([[minHashCandidates]], 8 bands × 2 rows) recovered it. The output
   * is the measured recall curve to hold against the theoretical
   * 1-(1-j²)⁸ — a drooping low-j bucket is the signal to rebalance
   * band/row counts BEFORE a production corpus silently under-dedups.
   *
   * Returns (bucket, n_pairs, n_found, recall): bucket is
   * floor(snapped jaccard · 10) clamped to 9, so 0.2 ≤ j < 0.3 lands in
   * bucket 2 and exact duplicates (j = 1) join bucket 9.
   *
   * Scale shape: the exact side is [[jaccardPairs]]' bounded
   * shared-shingle kernel (this audit is for calibration corpora — at
   * full production scale, sample first); the LSH side is the standard
   * banded equi-join; the comparison is one result-sized left join and
   * one ≤10-row aggregate. The shingle table feeds both sides — pass
   * `pin = _.localCheckpoint()` (caller-owned caching, the
   * [[dupGroups]] convention) to avoid shingling the corpus twice.
   */
  def minHashRecallAudit(docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.2,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    val sh = pin(shingles(docs, idCol, textCol))
    val exact = jaccardPairs(sh).where(col("jaccard") >= minJaccard)
    val cand = minHashCandidates(minHashSignatures(sh))
      .withColumn("found", lit(1L))
    // same biased 1e-6 snap as EntryUtil.gate, so the decile boundary
    // arithmetic is bit-identical across engines
    val snapped = floor(col("jaccard") * lit(1e6) + lit(0.50001)) / lit(1e6)
    exact.join(cand, Seq("doc0", "doc1"), "left")
      .select(
        least(floor(snapped * lit(10.0)).cast("long"), lit(9L)).as("bucket"),
        coalesce(col("found"), lit(0L)).as("found"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), sum(col("found")).as("n_found"))
      .withColumn("recall",
        col("n_found").cast("double") / col("n_pairs").cast("double"))
  }

  /**
   * MinHash ESTIMATOR calibration audit — [[minHashRecallAudit]] grades
   * the banding's candidate recall; this grades the signature itself:
   * for every LSH candidate pair, the signature-agreement estimate
   * ĵ = agreeing positions / 16 next to the exact shingle Jaccard and
   * the absolute error. E[ĵ] = j (each minhash agrees with probability
   * j), so a drifting error column means the hash family is misbehaving
   * on this corpus's shingle distribution — the check to run BEFORE
   * trusting ĵ as a verify-free similarity at scale (16 hashes →
   * std-err ≈ √(j(1−j)/16) ≈ 0.12 at j = 0.5; more hashes shrink it).
   *
   * Scale shape: candidates only (never all pairs); two result-sized
   * signature joins + the bounded [[jaccardFor]] verify. A candidate
   * pair sharing NO shingle (pure hash coincidence) scores jaccard 0.
   */
  def minHashEstimateAudit(docs: DataFrame, idCol: String, textCol: String,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    val sh = pin(shingles(docs, idCol, textCol))
    val sigs = minHashSignatures(sh)
    val cand = minHashCandidates(sigs)
    val agree = HashParams.indices
      .map(j => when(col(s"a.sig_$j") === col(s"b.sig_$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand
      .join(sigs.as("a"), col("a.doc_id") === col("doc0"))
      .join(sigs.as("b"), col("b.doc_id") === col("doc1"))
      .select(col("doc0"), col("doc1"), agree.as("n_agree"))
    val snap = (c: Column) => floor(c * lit(1e6) + lit(0.50001)) / lit(1e6)
    est.join(jaccardFor(cand, sh), Seq("doc0", "doc1"), "left")
      .select(col("doc0"), col("doc1"), col("n_agree"),
        snap(col("n_agree").cast("double") / lit(HashParams.size.toDouble))
          .as("j_est"),
        snap(coalesce(col("jaccard"), lit(0.0))).as("jaccard"),
        snap(abs(col("n_agree").cast("double") / lit(HashParams.size.toDouble)
          - coalesce(col("jaccard"), lit(0.0)))).as("abs_err"))
  }

  /**
   * b-bit MinHash calibration audit (Li & König 2010, b = 1) — the
   * SIGNATURE-COMPRESSION face of [[minHashEstimateAudit]]: store only
   * the LOWEST BIT of each minhash (16 bits instead of 16 int64s — a
   * 64× signature shrink, which is what lets a 100 TB corpus keep its
   * sketch index in memory) and estimate Jaccard from the bit-agreement
   * fraction. Unrelated minhashes still agree on a bit half the time,
   * so the estimator debiases: ĵ₁ = max(0, 2·f − 1) for bit-match
   * fraction f (the b = 1 case of Li–König's (f − C)/(1 − C), C = ½).
   * Emitted per candidate pair next to the FULL-signature estimate and
   * the exact Jaccard, so the audit shows precisely what the 64×
   * compression costs in estimator variance (√(4·f(1−f)/16) ≈ 2× the
   * full-signature std-err — compression is not free, it is priced).
   *
   * Scale shape: [[minHashEstimateAudit]]'s exact plan — candidates
   * only, two result-sized signature joins, the bounded [[jaccardFor]]
   * verify; the bit extraction is row-local integer arithmetic.
   */
  def minHashBbitAudit(docs: DataFrame, idCol: String, textCol: String,
      pin: DataFrame => DataFrame = identity): DataFrame = {
    val sh = pin(shingles(docs, idCol, textCol))
    val sigs = minHashSignatures(sh)
    val cand = minHashCandidates(sigs)
    val bitAgree = HashParams.indices
      .map(j => when(col(s"a.sig_$j") % 2 === col(s"b.sig_$j") % 2, 1L)
        .otherwise(0L))
      .reduce(_ + _)
    val fullAgree = HashParams.indices
      .map(j => when(col(s"a.sig_$j") === col(s"b.sig_$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand
      .join(sigs.as("a"), col("a.doc_id") === col("doc0"))
      .join(sigs.as("b"), col("b.doc_id") === col("doc1"))
      .select(col("doc0"), col("doc1"),
        bitAgree.as("n_bit_agree"), fullAgree.as("n_agree"))
    val nH = HashParams.size.toDouble
    val snap = (c: Column) => floor(c * lit(1e6) + lit(0.50001)) / lit(1e6)
    val j1 = greatest(lit(0.0),
      lit(2.0) * (col("n_bit_agree").cast("double") / lit(nH)) - lit(1.0))
    est.join(jaccardFor(cand, sh), Seq("doc0", "doc1"), "left")
      .select(col("doc0"), col("doc1"), col("n_bit_agree"), col("n_agree"),
        snap(j1).as("j_est_1bit"),
        snap(col("n_agree").cast("double") / lit(nH)).as("j_est_full"),
        snap(coalesce(col("jaccard"), lit(0.0))).as("jaccard"),
        snap(abs(j1 - coalesce(col("jaccard"), lit(0.0)))).as("abs_err_1bit"))
  }

  /**
   * Exact shingle Jaccard restricted to the given (doc0, doc1) pairs —
   * the candidate-verification kernel. Cost is bounded by
   * |pairs| · shingles-per-doc (two id equi-joins + one aggregate), never
   * the full co-shingled pair surface that [[jaccardPairs]] materializes.
   * Pairs sharing no shingle produce no row (their Jaccard, 0, can never
   * reach a positive threshold).
   */
  def jaccardFor(pairs: DataFrame, sh: DataFrame): DataFrame =
    withSizes(candidateCounts(pairs, sh, "i"), docSizes(sh))
      .select(col("doc0"), col("doc1"), jaccardCol)

  /**
   * [[jaccardFor]] with the INTERSECTION-FIRST physical shape: the
   * pair-first spelling ships each document's shingle set once per
   * candidate pair — |candidates| × shingles-per-doc wide rows through
   * the (doc1, sh) exchange, measured ~72 GB for the prefix route's 70M
   * candidates at 100× (500k docs) where it filled local disk. Here the per-pair overlap counts come
   * from the shingle-keyed self-join FIRST — Σ_sh C(df_sh, 2) SKINNY
   * (doc0, doc1) rows with map-side partial counts — then an inner join
   * keeps candidate pairs only (~2 GB at the same scale, ~30×
   * less). Same output: a candidate pair sharing no shingle produces no
   * row in either spelling.
   *
   * REGIME: right when the candidate set is dense relative to the
   * sharing surface — exactly the low-threshold prefix route, whose
   * candidates ARE a constant fraction of Σ_sh C(df, 2). The one case
   * where the self-join used to lose — few candidates on a df-HEADED
   * corpus, where it paid C(df_head, 2) for pairs the candidate filter
   * already pruned — is handled in-kernel by the
   * heavy-shingle split below: head shingles are counted candidate-first
   * (the [[jaccardFor]] shape), everything else keeps the skinny
   * self-join. Both verifications give every distinct candidate pair
   * its exact Jaccard. The prune branch drops duplicate candidate rows
   * first, because its candidate-first heavy count would count one
   * overlap per copy; it therefore emits one row per distinct pair,
   * where the unpruned branch emits one row per candidate row.
   */
  def jaccardForBySh(pairs0: DataFrame, sh: DataFrame,
      pruneCandidateDocs: Option[Boolean] = None): DataFrame = {
    // CANDIDATE-DOC PRUNE: the self-join only ever contributes rows for
    // pairs whose BOTH endpoints appear in `pairs`, so semi-join the
    // shingle table down to candidate documents first.
    // Semantics-free (intersection counts and set sizes of surviving
    // docs are untouched) and it removes the Σ_sh C(df, 2) term for
    // every document the candidate filter already excluded — on a
    // boilerplate-headed corpus where candidates touch a small doc
    // fraction, the df-head collapses with them. When candidates touch
    // most docs the prune is a no-op whose distinct + semi-join
    // exchanges are pure overhead (measured 1.53× on the sf0.1 contract
    // corpus) and the caller needs the
    // population cap instead ([[prefixJaccardDups]]'s `maxDf`).
    //
    // REGIME GATE: `pruneCandidateDocs` None = auto — the global
    // [[PairSurface.probe]] over the shingle table decides: prune iff
    // the hottest shingle's own pair surface exceeds the postings count
    // (`max_df² > postings` — a genuine df-HEAD). That
    // is both the semantic signal (boilerplate heads are exactly where
    // candidates collapse to a small doc fraction, so the semi-join
    // excises real work) and — measured on the planted head fixture at
    // sf0.1 — the PHYSICAL one: the semi-join's shuffle output forces
    // the sh-keyed self-join into a SortMergeJoin that AQE skew-splits
    // (57.9 s), where the directly-scanned checkpoint planned as a
    // BroadcastHashJoin whose hot-key expansion AQE cannot split
    // (106.4 s, same 12,137 output rows). On head-free corpora the
    // prune's distinct + semi-join exchanges are pure overhead and the
    // broadcast expansion is the faster plan (2.64 s vs 4.03 s on the
    // sf0.1 contract corpus) — auto skips
    // it there. Some(b) forces the choice for callers who know their
    // regime. Either way the verification stays INTERSECTION-FIRST
    // (the shape whose skinny self-join certified the 100× curve — the
    // pair-first [[jaccardFor]] is NOT a fallback here; it was the
    // sfx10 disk-fill); the gate only decides whether the semi-join
    // narrows the self-join's input first.
    val doPrune = pruneCandidateDocs.getOrElse {
      val r = PairSurface.probe(sh, Nil, "sh")
        .select("max_df", "postings").collect()(0)
      r.getLong(0) * r.getLong(0) > r.getLong(1)
    }
    // in the prune branch the candidate table is consumed three times
    // (the doc semi-join, the heavy count, the final inner join) — pin
    // it so the candidate join runs once, deduplicated because the heavy
    // count multiplies by each copy of a pair; unpruned it is consumed
    // once, no pin needed
    val pairs =
      if (doPrune) pairs0.dropDuplicates("doc0", "doc1").localCheckpoint() else pairs0
    val shp =
      if (doPrune) {
        val candDocs = pairs.select(col("doc0").as("doc_id"))
          .union(pairs.select(col("doc1").as("doc_id"))).distinct()
        sh.join(candDocs, Seq("doc_id"), "left_semi")
      } else sh
    // HEAVY-SHINGLE SPLIT (the basketPairSupports pattern, guide
    // §2.5 — special-case the hot keys): in the df-head regime the
    // self-join's Σ_sh C(df, 2) surface is owned by a handful of
    // boilerplate shingles (df ≈ |corpus|) whose pair expansions the
    // candidate filter has ALREADY pruned — the prefix rule excludes
    // common shingles from candidacy, yet the verify re-enumerated
    // their C(df, 2) surface anyway (measured 420 task-seconds / 85 s
    // wall at sf0.1 on 9 planted shingles with df = 10,000). Split the
    // shingle population by the SAME rule as the prune gate, applied
    // per shingle: a shingle is HEAVY iff its own pair surface exceeds
    // the postings count (df² > Σdf). Intersection counts partition by
    // shingle, so i = i_light + i_heavy exactly:
    //   - light shingles keep the skinny self-join (every df ≤ √Σdf,
    //     so no single key can expand past the postings count);
    //   - heavy shingles are counted CANDIDATE-FIRST (the [[jaccardFor]]
    //     shape, safe here because heavy postings per doc are few by
    //     construction: ≤ √Σdf distinct heavy shingles exist at all) —
    //     |pairs| × heavy-shingles-per-doc rows, never C(df, 2).
    // Split only in the prune regime: without a df-head no shingle
    // satisfies df² > Σdf and the split would be a no-op tax, so the
    // head-free plan keeps its exact previous shape. The 1-row Σdf
    // aggregate rides the plan as a broadcast scalar (no extra driver
    // action — the lazy-construction contract for Some(b) callers holds).
    val inter = if (doPrune) {
      val dfs = shp.groupBy("sh").agg(count(lit(1)).as("df"))
      val tot = dfs.agg(coalesce(sum(col("df")), lit(0L)).as("p"))
      val heavy = dfs.crossJoin(broadcast(tot))
        .where(col("df") * col("df") > col("p")).select("sh")
      val shLight = shp.join(broadcast(heavy), Seq("sh"), "left_anti")
      val shHeavy = shp.join(broadcast(heavy), Seq("sh"), "left_semi")
      sharedCounts(shLight, "il")
        .join(candidateCounts(pairs, shHeavy, "ih"), Seq("doc0", "doc1"), "full_outer")
        .select(col("doc0"), col("doc1"),
          (coalesce(col("il"), lit(0L)) + coalesce(col("ih"), lit(0L))).as("i"))
    } else sharedCounts(shp, "i")
    withSizes(pairs.join(inter, Seq("doc0", "doc1")), docSizes(shp))
      .select(col("doc0"), col("doc1"), jaccardCol)
  }

  /**
   * MinHash-LSH near-dup detection from a prebuilt shingle table: LSH
   * candidates, verified by exact shingle Jaccard ≥ `minJaccard`. Only
   * candidate pairs are ever verified — the all-pairs surface is never
   * touched. The shingle table is consumed by both the signature and the
   * verification branch; callers who want it cached persist it themselves
   * (caching is caller-owned, like `MatrixModel.persist` — this function
   * must not leak cache entries from long-lived sessions).
   *
   * Duplicate ids: every input row adds its shingles again, so a
   * repeated doc-id row counts into both the set sizes and the overlaps
   * (an id repeated k times beside a copy of its text scores k).
   * Deduplicate rows by id first.
   */
  def minHashDupsFromShingles(sh: DataFrame, minJaccard: Double = 0.2): DataFrame =
    jaccardFor(minHashCandidates(minHashSignatures(sh)), sh)
      .where(col("jaccard") >= minJaccard)
      .select("doc0", "doc1", "jaccard")

  /** MinHash-LSH near-dup detection end to end (see [[minHashDupsFromShingles]]). */
  def minHashDups(docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.2): DataFrame =
    minHashDupsFromShingles(shingles(docs, idCol, textCol), minJaccard)

  /**
   * Train-corpus decontamination against an evaluation corpus — the
   * benchmark-leakage guard run before every training sweep: for each
   * train document, how many of its distinct word `n`-gram shingles also
   * occur ANYWHERE in the eval corpus, and the contaminated fraction
   * (the decision signal: drop or scrub documents above a threshold).
   *
   * Scale shape: the eval side collapses to its DISTINCT shingle set
   * first — eval benchmarks are MBs while train corpora are TBs, so that
   * set is small and AQE turns the probe into a broadcast hash join on
   * the shingle hash; the train shingle table streams through it once and
   * aggregates map-side per document. Neither side ever joins train
   * against train: cost is linear in train tokens plus one tiny distinct.
   * Documents with fewer than `n` tokens have no shingles and produce no
   * row (nothing to leak through an n-gram probe).
   */
  def contamination(train: DataFrame, evalCorpus: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame =
    contaminationFromShingles(
      shinglesK(train, idCol, textCol, n), shinglesK(evalCorpus, idCol, textCol, n))

  /**
   * Engine-neutral rolling n-gram hash over `n` token-value SQL
   * expressions — the [[TextHash.shingleHash]] Horner fold generalized:
   * `h = fold(t1, (acc, t) → (acc·31 + t) mod M)`. For n = 3 this is
   * byte-identical to `shingleHash` (spec-pinned), so every consumer of
   * the trigram tables composes unchanged. Each step keeps the
   * accumulator < M < 2^30 before the ·31, so nothing approaches int64
   * overflow at any n.
   */
  def ngramHashSql(ts: Seq[String]): String = {
    require(ts.size >= 2)
    ts.tail.foldLeft(ts.head)((acc, t) => s"(($acc) * 31 + $t) % $M")
  }

  /** [[contamination]] from prebuilt (doc_id, sh) tables — the seam that
    * lets an incremental pipeline probe an existing shingle INDEX
    * ([[graft.streaming.DedupStream.currentShingles]]) instead of
    * re-shingling the corpus. Same plan: the eval side collapses to its
    * distinct shingle set (broadcast-sized), one left join, one per-doc
    * aggregate. */
  def contaminationFromShingles(trainSh: DataFrame, evalSh: DataFrame): DataFrame = {
    val ev = evalSh.select(col("sh")).distinct().withColumn("hit", lit(1L))
    trainSh
      .join(ev, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("hit_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("hit_shingles"),
        (col("hit_shingles").cast("double") / col("n_shingles")).as("contamination"))
  }

  /** Character-gram length of the EXACT-substring decontamination
    * contract: a shared verbatim run of `SubstrLen`+ characters is
    * caught at ANY alignment, deterministically. ~50 characters ≈ the
    * 13-token probe's width in bytes, the Lee et al. ballpark. */
  val SubstrLen = 50

  /**
   * Every distinct `len`-character window of each document at EVERY
   * character offset (stride 1) — the flat spelling of a sorted-suffix
   * block: two documents share a ≥ len-char verbatim substring iff two
   * of their suffixes share a len-char prefix iff they share one of
   * these windows. Documents shorter than `len` emit no row (nothing
   * long enough to leak). One explode + one per-doc distinct; output is
   * one row per character of input, linear like any suffix structure.
   *
   * Windows are carried as a FIXED-WIDTH 120-bit hash — two int64
   * columns `(g1, g2)` cut from sha256 of the window bytes: the
   * distinct and the probe join exchange 16 bytes per
   * window instead of the raw `len`-character string (~50 chars, up to
   * ~150 UTF-8 bytes — at 100 TB the string payload IS the shuffle).
   * Identical strings hash identically, so the no-false-negative
   * direction is preserved exactly; a false positive needs a 2^-120
   * sha256-prefix collision — below any hardware-error floor. The
   * DuckDB oracle derives the IDENTICAL pair via
   * [[substringHashSqlDuck]], so the contract compare covers the hash.
   */
  def substringGrams(docs: DataFrame, idCol: String, textCol: String,
      len: Int): DataFrame =
    substringGramsLocal(docs, idCol, textCol, len).distinct()

  /**
   * [[substringGrams]] WITHOUT the per-doc distinct — a purely ROW-LOCAL
   * stage (projection + explode + hash; no exchange, no aggregate), so
   * it also runs natively on an unbounded STREAM ([[graft.streaming
   * .DedupStream.substringContaminationFlag]] — a streaming distinct
   * would be stateful; the stream's per-doc flag dedup makes it
   * unnecessary there). `keepCols` ride along per window row.
   */
  def substringGramsLocal(docs: DataFrame, idCol: String, textCol: String,
      len: Int, keepCols: Seq[String] = Nil): DataFrame = {
    require(len >= 2)
    val keep = keepCols.map(col)
    docs.select(col(idCol).as("doc_id") +: col(textCol).as("t") +: keep: _*)
      .where(length(col("t")) >= len)
      .select(col("doc_id") +: col("t") +:
        explode(expr(s"sequence(0, length(t) - $len)")).as("p") +: keep: _*)
      .select(col("doc_id") +:
        expr(s"sha2(cast(substr(t, p + 1, $len) as binary), 256)").as("h") +: keep: _*)
      // two 15-hex-char slices → two exact int64s (60 bits each; conv's
      // unsigned parse stays below 2^63 so the BIGINT cast is exact)
      .select(col("doc_id") +:
        expr("CAST(conv(substr(h, 1, 15), 16, 10) AS BIGINT)").as("g1") +:
        expr("CAST(conv(substr(h, 16, 15), 16, 10) AS BIGINT)").as("g2") +: keep: _*)
  }

  /** DuckDB spelling of [[substringGrams]]' window-hash pair: int64
    * column `gN` from the same sha256 hex slice (`'0x' || slice` casts
    * exactly in DuckDB 1.0; Spark spells the same parse via `conv`). */
  def substringHashSqlDuck(windowExpr: String, part: Int): String = {
    val off = if (part == 1) 1 else 16
    s"CAST('0x' || substr(sha256($windowExpr), $off, 15) AS BIGINT)"
  }

  /**
   * EXACT-substring decontamination (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better" — the exact-substring
   * semantics): for each train document, how many of its distinct
   * `len`-character windows occur verbatim ANYWHERE in the eval corpus,
   * at ANY character alignment. This is the guarantee the probabilistic
   * probes cannot give: a 50-token quote pasted mid-document is caught
   * with certainty here, where [[fuzzyContamination]]'s document-level
   * MinHash misses it whenever the surrounding text dilutes the Jaccard
   * below threshold (spec-pinned), and token-n-gram probes
   * ([[contamination]]) depend on the tokenizer segmenting both copies
   * identically. Matching is on the fixed-width 120-bit window hash
   * ([[substringGrams]]) — no false negatives ever (identical windows
   * hash identically), false positives only at the 2^-120 sha256-prefix
   * collision rate, mirrored exactly by the oracle.
   *
   * Scale shape: the standard Lee-et-al. suffix trade, spelled as a
   * join — the eval side (benchmarks, MBs) collapses to its distinct
   * window set and broadcasts; the train side streams one row per
   * character through that probe once and aggregates map-side per
   * document. Linear in train bytes — the same asymptotics as building
   * the suffix array, with Spark's exchange machinery in place of the
   * sort — and never train-vs-train. The exchanged key is 16 bytes per
   * window (two int64s), not the window string (~6× less exchange
   * payload at the 50-char default).
   */
  def substringContamination(train: DataFrame, evalCorpus: DataFrame,
      idCol: String, textCol: String, len: Int = SubstrLen): DataFrame = {
    val tg = substringGrams(train, idCol, textCol, len)
    val ev = substringGrams(evalCorpus, idCol, textCol, len)
      .select(col("g1"), col("g2")).distinct().withColumn("hit", lit(1L))
    tg.join(ev, Seq("g1", "g2"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("hit_grams"))
      .select(col("doc_id"), col("n_grams"), col("hit_grams"),
        (col("hit_grams").cast("double") / col("n_grams")).as("contamination"))
  }

  /** Bloom-filter geometry for [[bloomContamination]]: 2^14 bit
    * positions × 3 hashes. Part of the operator contract (the oracle
    * mirrors the constants), sized so the sf0.01 eval set loads the
    * filter lightly; production sizes m from the standard
    * (1−e^(−kn/m))^k FP formula. */
  val BloomBits = 16384
  val BloomHashes = 3
  /** Base salt of the Bloom hash family (hash i salts with Base + i). */
  val BloomSalt = 90001L

  /** Bloom position i of hash input `v`, as engine-neutral SQL —
    * [[TextHash.avalancheSql]] (the squared chain: Bloom reads bit
    * positions, which the affine mix alone would lattice-lock) reduced
    * mod [[BloomBits]]. */
  def bloomPosSql(v: String, i: Int): String =
    s"(${TextHash.avalancheSql(v, BloomSalt + i)}) % $BloomBits"

  /**
   * The SET BIT POSITIONS of a Bloom filter over the `sh` column —
   * bounded at [[BloomBits]] rows no matter how many values feed it.
   * This is the relational encoding of the bitmap: downstream probes
   * equi-join against it, and at ≤ 2^14 rows of one int it broadcasts
   * everywhere for free.
   */
  def bloomBits(values: DataFrame): DataFrame =
    values.select(explode(array((0 until BloomHashes).map(i =>
        expr(s"CAST(${bloomPosSql("sh", i)} AS BIGINT)")): _*)).as("pos"))
      .distinct()

  /**
   * Bloom-probed train/eval decontamination — the BOUNDED-MEMORY scale
   * path for [[contamination]]: when the eval corpus outgrows "collapse
   * to a distinct set and broadcast it" (many benchmarks × many
   * paraphrase variants, or decontaminating against another full
   * corpus), the probe side compresses to a [[BloomBits]]-row bit-set
   * whose size is FIXED by construction. A train shingle is flagged iff
   * all [[BloomHashes]] of its positions are set.
   *
   * Guarantee: NO FALSE NEGATIVES — every shingle actually present in
   * the eval set has, by construction, all its positions set, so
   * `flagged_shingles ≥ hit_shingles` of the exact probe, per document
   * (spec-pinned). False positives inflate the flag count at the
   * standard (1−e^(−kn/m))^k rate — the safe direction for a
   * contamination GATE (over-dropping, never under-dropping); run the
   * exact probe on the flagged survivors when precision matters.
   *
   * Scale shape: the filter build is one explode + distinct over the
   * eval shingles (map-side partials, output ≤ m rows); the probe is a
   * row-local position explode + ONE broadcast equi-join + per-(doc,
   * shingle) count — linear in train tokens, and nothing eval-sized is
   * ever shuffled or broadcast.
   */
  def bloomContamination(train: DataFrame, evalCorpus: DataFrame,
      idCol: String, textCol: String): DataFrame =
    bloomContaminationFromShingles(
      shingles(train, idCol, textCol),
      shingles(evalCorpus, idCol, textCol))

  /** [[bloomContamination]] from prebuilt (doc_id, sh) tables — the
    * index-probing seam, mirroring [[contaminationFromShingles]]. */
  def bloomContaminationFromShingles(trainSh: DataFrame,
      evalSh: DataFrame): DataFrame = {
    val bits = bloomBits(evalSh.select("sh")).withColumn("hit", lit(1L))
    val probes = trainSh.select(col("doc_id"), col("sh"),
      explode(array((0 until BloomHashes).map(i =>
        expr(s"CAST(${bloomPosSql("sh", i)} AS BIGINT)")): _*)).as("pos"))
    probes.join(broadcast(bits), Seq("pos"), "left")
      .groupBy("doc_id", "sh")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("nhit"))
      .select(col("doc_id"),
        (col("nhit") === lit(BloomHashes.toLong)).cast("long").as("flag"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("flag")).as("flagged_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("flagged_shingles"),
        (col("flagged_shingles").cast("double") / col("n_shingles"))
          .as("flag_fraction"))
  }

  /**
   * Fuzzy train/eval decontamination: NEAR-duplicate leakage across the
   * corpus boundary, which [[contamination]]'s exact trigram probe misses
   * when the leaked text was paraphrased or lightly edited. Both corpora
   * get MinHash band keys; candidates are the cross-corpus (band, key)
   * equi-join — never |train|×|eval| — and only candidates are verified
   * by exact shingle Jaccard ≥ `minJaccard`. Output: one row per
   * (train doc, eval doc) near-dup pair. Same banding recall analysis as
   * [[minHashCandidates]] (P ≈ 0.83 at j = 0.45, → 1 for tight dups).
   * The two corpora's ids must be disjoint — they label rows of the
   * shared shingle table the verification joins against.
   */
  def fuzzyContamination(train: DataFrame, evalCorpus: DataFrame,
      idCol: String, textCol: String, minJaccard: Double = 0.2): DataFrame = {
    val trSh = shingles(train, idCol, textCol)
    val evSh = shingles(evalCorpus, idCol, textCol)
    val trB = minHashBands(minHashSignatures(trSh))
    val evB = minHashBands(minHashSignatures(evSh))
      .withColumnRenamed("doc_id", "eval_id")
    val cands = trB.join(evB, Seq("band", "bkey"))
      .select(col("doc_id").as("doc0"), col("eval_id").as("doc1"))
      .distinct()
    jaccardFor(cands, trSh.union(evSh))
      .where(col("jaccard") >= minJaccard)
      .select(col("doc0").as("doc_id"), col("doc1").as("eval_id"), col("jaccard"))
  }

  /**
   * Cross-source duplicate-leakage matrix — the provenance audit run
   * after near-dup detection: for every unordered pair of sources, how
   * many verified near-dup pairs straddle them (or sit inside one
   * source) and their mean Jaccard. The table that answers "is source B
   * just a scrape of source A?" before mixture weights are set — a
   * source whose mass is mostly cross-duplicated against another adds
   * tokens but no information.
   *
   * `pairs` is any (doc0, doc1, jaccard) detector output
   * ([[minHashDups]], [[ngramJaccardDups]]); `docSources` maps each doc
   * to its source. Source pairs are canonicalized lexicographically
   * (src0 ≤ src1) so each unordered pair appears once.
   *
   * Scale shape: two result-sized id equi-joins to fetch the endpoint
   * sources, then one aggregate keyed by the source pair — everything
   * downstream of the detector is |pairs|-sized; output is at most
   * C(sources, 2) + sources rows.
   */
  def sourceLeakageMatrix(pairs: DataFrame, docSources: DataFrame,
      idCol: String, srcCol: String): DataFrame = {
    val src = docSources.select(col(idCol).as("doc_id"), col(srcCol).as("src"))
    pairs
      .join(src.withColumnRenamed("doc_id", "doc0")
        .withColumnRenamed("src", "s0"), "doc0")
      .join(src.withColumnRenamed("doc_id", "doc1")
        .withColumnRenamed("src", "s1"), "doc1")
      .groupBy(
        least(col("s0"), col("s1")).as("src0"),
        greatest(col("s0"), col("s1")).as("src1"))
      .agg(count(lit(1)).as("n_pairs"),
        avg(col("jaccard")).as("avg_jaccard"))
  }

  /** Number of SimHash bits (shingle hashes carry ~30 usable bits). */
  val SimHashBits = 24

  /**
   * Per-document SimHash over the distinct shingle set: bit i is the sign
   * of Σ_shingles (±1) where the shingle votes +1 iff its hash has bit i
   * set. One aggregate, 24 counter columns — no row explosion. Rows
   * that share an id are one document holding all their shingles (one
   * sketch per id), which is the duplicate-id answer of every SimHash
   * dedup route.
   */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    signSketch(shingles(docs, idCol, textCol),
      (0 until SimHashBits).map(i => s"shiftright(sh, $i) & 1"))

  /** The sign-vote sketch builder behind [[simHash]] and [[simHashWide]]:
    * bit i of `simhash` is set iff more of the document's rows have vote
    * `bits(i)` (a 0/1 SQL expression) at 1 than at 0. One doc-keyed
    * aggregate of one counter column per bit. */
  private def signSketch(rows: DataFrame, bits: Seq[String]): DataFrame = {
    val sums = bits.zipWithIndex.map { case (b, i) =>
      sum(when(expr(b) === 1, 1L).otherwise(-1L)).as(s"s_$i")
    }
    val hash = bits.indices
      .map(i => when(col(s"s_$i") > 0, lit(1L << i)).otherwise(lit(0L)): Column)
      .reduce(_ + _)
    rows.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), hash.as("simhash"))
  }

  /** Chunks the SimHash sketch is banded into for candidate generation. */
  val SimHashChunks = 4

  /**
   * Banded SimHash candidate pairs: the 24-bit sketch is split into 4
   * six-bit chunks; any pair within hamming distance ≤ 3 differs in at
   * most 3 chunks, so by pigeonhole it agrees EXACTLY on at least one —
   * candidate generation is an equi-join on (chunk_index, chunk_value),
   * the same banding shape as [[minHashCandidates]], never an all-pairs
   * scan. Pairs sharing several chunks are deduplicated; both sketches
   * ride along so the verifier needs no join back.
   */
  def simHashCandidates(sketches: DataFrame): DataFrame =
    chunkPairs(sketches, SimHashBits, SimHashChunks, None)
      .select(col("doc0"), col("doc1"), col("c0").as("h0"), col("c1").as("h1"))

  /** Pigeonhole band candidates over `chunks` equal slices of a
    * `bits`-wide `simhash`: the distinct pairs agreeing on some
    * (chunk, value) bucket, buckets above `maxBucket` dropped, both
    * sketches carried as `c0`/`c1` ([[PairSurface.bandPairs]]). */
  private def chunkPairs(sketches: DataFrame, bits: Int, chunks: Int,
      maxBucket: Option[Long]): DataFrame = {
    val chunkBits = bits / chunks
    val mask = (1L << chunkBits) - 1
    val chunked = sketches.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        expr(s"shiftright(simhash, ${c * chunkBits}) & $mask")): _*))
        .as(Seq("chunk", "cval")))
    PairSurface.bandPairs(chunked, Seq("chunk", "cval"), "doc_id", maxBucket,
      carry = Some("simhash"))
  }

  /** The hamming verify of sketch pairs (doc0, doc1, c0, c1): pairs at
    * hamming ≤ `maxHamming`, as (doc0, doc1, hamming). */
  private def hammingWithin(cands: DataFrame, maxHamming: Int): DataFrame =
    cands
      .select(col("doc0"), col("doc1"),
        expr("CAST(bit_count(c0 ^ c1) AS BIGINT)").as("hamming"))
      .where(col("hamming") <= maxHamming)

  /** Default band-bucket occupancy cap of the wide SimHash route when
    * reached through the obvious [[simHashDups]] name: far above the
    * measured organic occupancy (4 at sf0.1), so it only fires on hot
    * collision classes (empty/boilerplate sketch coincidences). */
  val SimHashDefaultMaxBucket: Long = 200L

  /**
   * Near-dup pairs by SimHash hamming distance — THE DEFAULT ROUTE,
   * which is the WIDE 60-bit sketch with 15-bit pigeonhole banding and
   * the occupancy cap ([[simHashWideDups]]). The narrow 24-bit variant
   * ([[simHashDups24]]) is a MEASURED scale inversion (bench_sf1.json:
   * 22.8× wall for 10× docs, candidates ~N²/32), so no caller can
   * inherit that quadratic by taking the obvious name: narrow is
   * reachable only through its explicit width-suffixed API.
   */
  def simHashDups(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      maxBucket: Long = SimHashDefaultMaxBucket): DataFrame =
    simHashWideDups(docs, idCol, textCol, maxBucket, maxHamming)

  /**
   * Near-dup pairs by NARROW 24-bit SimHash hamming distance ≤
   * `maxHamming` — the documented exact-24-bit API (small/medium
   * corpora and all-pairs-equivalence audits ONLY; the default route is
   * the wide twin behind [[simHashDups]]).
   *
   * For `maxHamming < SimHashChunks` candidates come from
   * [[simHashCandidates]]'s chunk equi-join, which is complete by
   * pigeonhole: banding only prunes pairs already above the distance
   * bound, so the result is IDENTICAL to the direct all-pairs compare —
   * with a shuffle-partitioned plan instead of a BroadcastNestedLoopJoin.
   * Wider bounds fall back to the direct sketch self-join (quadratic in
   * document count — only the ≤ int64 sketches are scanned, but at corpus
   * scale prefer a tighter bound or more chunks).
   *
   * SCALE CAVEAT (measured, bench_sf1.json): complete banding over
   * 6-bit chunks is itself ~quadratic — candidates grow ~N²/32 and the
   * sfx1 spot-bench timed this operator at 22× wall for 10× docs. At
   * corpus scale use [[simHashDups]]/[[simHashWideDups]] (15-bit chunks
   * + occupancy cap, same hamming ≤ 3 contract over a 60-bit sketch);
   * this narrow variant stays for small/medium corpora and for its
   * exact 24-bit all-pairs equivalence.
   */
  def simHashDups24(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sk = simHash(docs, idCol, textCol)
    hammingWithin(
      if (maxHamming < SimHashChunks) chunkPairs(sk, SimHashBits, SimHashChunks, None)
      else PairSurface.pairs(sk, Nil, "doc_id")
        .select(col("a.doc_id").as("doc0"), col("b.doc_id").as("doc1"),
          col("a.simhash").as("c0"), col("b.simhash").as("c1")),
      maxHamming)
  }

  /** Wide-sketch geometry: 60 sign bits (30 from each of two avalanched
    * shingle hashes), banded into 4 fifteen-bit chunks — 32768 values
    * per chunk where [[SimHashBits]]/[[SimHashChunks]]' six-bit chunks
    * have 64. The narrow geometry is a MEASURED scale inversion: the
    * broadened sfx1 spot-bench (bench_sf1.json) timed `dedup_simhash`
    * at 22× wall for 10× docs because candidates grow ~N²/2·2^chunkBits —
    * at 64 values per chunk the band join is structurally quadratic
    * (852k candidate pairs at sf0.1, ~85M at sfx1), the same
    * fixed-width-too-narrow class as the sign-LSH plane-count bug. 15-bit
    * chunks put the same corpus at 1.9k candidates (sf0.1, measured
    * ~460× fewer) — the [[graft.ext.Multimodal.phashDups]] band geometry
    * exactly, with the same occupancy cap for hot collision classes. */
  val SimHashWideBits = 60
  /** Pigeonhole-complete for hamming ≤ 3, like the narrow twin. */
  val SimHashWideChunks = 4
  /** Salts of the two avalanche chains widening the ~30 usable shingle
    * bits to 60 independent vote positions. */
  val SimHashWideSaltA = 70001L
  val SimHashWideSaltB = 70003L

  /**
   * 60-bit SimHash over the distinct shingle set — [[simHash]] widened
   * for corpus scale: bit i < 30 votes by bit i of `avalanche(sh,
   * SaltA)`, bit i ≥ 30 by bit i−30 of `avalanche(sh, SaltB)` (the
   * affine chain alone is an LCG whose low bits lattice-lock; the
   * squared chain cascades carries, so all 60 positions are unbiased
   * votes). Same shape as the narrow sketch: one aggregate, 60 counter
   * columns, no row explosion.
   */
  def simHashWide(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val half = SimHashWideBits / 2
    val av = shingles(docs, idCol, textCol).select(col("doc_id"),
      expr(TextHash.avalancheSql("sh", SimHashWideSaltA)).as("a1"),
      expr(TextHash.avalancheSql("sh", SimHashWideSaltB)).as("a2"))
    signSketch(av, (0 until SimHashWideBits).map { i =>
      if (i < half) s"shiftright(a1, $i) & 1" else s"shiftright(a2, ${i - half}) & 1"
    })
  }

  /**
   * Near-dup pairs by WIDE SimHash hamming ≤ `maxHamming` — the scale
   * path for [[simHashDups]]: the same pigeonhole banding over 15-bit
   * chunks, plus the REQUIRED band-bucket occupancy cap ([[graft.ext.
   * Multimodal.phashDups]]' maxBucket / `basketRules`' maxBasket
   * convention): a (chunk, value) bucket holding more than `maxBucket`
   * sketches is dropped from candidate generation entirely. On healthy
   * text the cap is inert (measured max occupancy 4 at sf0.1); it
   * exists for the hot collision classes — empty/boilerplate documents
   * whose sketches coincide — where one bucket would otherwise emit
   * C(occ, 2) pairs. Recall contract: a pair is missed only if EVERY
   * chunk the two sketches agree on is saturated; with 4 chunks and the
   * cap far above organic occupancy that requires the pair to live
   * entirely inside collision hotspots — exactly the evidence a
   * near-dup miner calls uninformative.
   *
   * Scale shape: sketching is one row-local aggregate; candidates are a
   * chunk equi-join whose per-bucket fan-out is ≤ C(maxBucket, 2) by
   * construction; the hamming verify rides the candidate row (both
   * sketches carried, no join back). Nothing quadratic survives.
   */
  def simHashWideDups(docs: DataFrame, idCol: String, textCol: String,
      maxBucket: Long, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimHashWideChunks,
      s"maxHamming must be in [0, $SimHashWideChunks): the ${SimHashWideChunks}-chunk " +
        s"pigeonhole is complete only below it, got $maxHamming")
    require(maxBucket >= 2,
      s"maxBucket must be >= 2: a bucket below 2 can never pair, got $maxBucket")
    hammingWithin(chunkPairs(simHashWide(docs, idCol, textCol), SimHashWideBits,
      SimHashWideChunks, Some(maxBucket)), maxHamming)
  }

  /**
   * Embedding-cosine near-duplicates: pairs with cosine ≥ `minCosine`
   * (rounded to the 1e-6 grid first so thresholding is reproducible).
   *
   * Candidates come from sign-LSH bucketing with Hamming-1 multi-probe
   * ([[Embeddings.lshNearPairsCosine]]) — an equi-join on tiny (id, bucket)
   * rows, never the C(N,2) surface — then only candidates are
   * cosine-verified. Recall is the candidate rule's, NOT 1 in general:
   * with per-bit collision p = 1 − θ/π, P(candidate) = p⁶ + 6p⁵(1−p) —
   * ≈ 0.28 at cosine 0.45, ≈ 0.79 at cosine 0.9, → 1 only as cosine → 1.
   * The rule is therefore part of the operator contract (the oracle
   * mirrors it); treat the default threshold as "find tight near-dups",
   * and use `exhaustive = true` (exact all-pairs scan) when a moderate
   * threshold must not miss pairs and the corpus is small enough.
   */
  /**
   * Cosine-threshold calibration sweep for SEMANTIC dedup — the
   * embedding mirror of [[jaccardThresholdSweep]], with the extra column
   * that actually decides the production route: per threshold, the pair
   * and doc counts over the EXHAUSTIVE cosine table (the truth) AND the
   * sign-LSH candidate route's recall against it. The table answers
   * "above which threshold is the banded route safe" before a corpus
   * commits to it — LSH recall rises with the threshold (near-identical
   * vectors agree on every hyperplane), so the crossing point where
   * recall clears the curation bar IS the calibrated threshold.
   *
   * Scale: the exhaustive side is the brute O(n²) kernel — calibration
   * runs on a sample at 100 TB (the [[jaccardThresholdSweep]] caveat);
   * the candidate side and the threshold fan-out are result-sized.
   * Cosines are 1e-6-snapped on both routes, so `>= t` can never
   * disagree across engines.
   *
   * Measured on the sf0.01 contract corpus (6 planes, Hamming-1
   * probes): recall 0.26 at t = 0.2, 0.42 at the 0.4 contract floor,
   * 1.0 from t = 0.5 — i.e. the banded route as configured is safe for
   * high-similarity dedup but NOT for 0.4-grade semantic matching
   * without more probes. Exactly the decision this table exists to
   * force into the open; [[semanticProbeSweep]] prices the fix.
   */
  def semanticThresholdSweep(emb: DataFrame, idCol: String, vecCol: String,
      thresholds: Seq[Double], dim: Int = 64): DataFrame = {
    require(thresholds.nonEmpty)
    def sweep(df: DataFrame) = df
      .select(explode(array(thresholds.map(lit): _*)).as("t"),
        col("v0"), col("v1"), col("cosine"))
      .where(col("cosine") >= col("t"))
    val ex = sweep(Embeddings.allPairsCosine(emb, idCol, vecCol))
    val nPairs = ex.groupBy("t").agg(count(lit(1)).as("n_pairs"))
    val nDocs = ex
      .select(col("t"), explode(array(col("v0"), col("v1"))).as("d"))
      .distinct()
      .groupBy("t").agg(count(lit(1)).as("n_docs"))
    val nCand = sweep(Embeddings.lshNearPairsCosine(emb, idCol, vecCol, dim))
      .groupBy("t").agg(count(lit(1)).as("n_cand"))
    emb.sparkSession.createDataFrame(thresholds.map(Tuple1(_))).toDF("t")
      .join(nPairs, Seq("t"), "left")
      .join(nDocs, Seq("t"), "left")
      .join(nCand, Seq("t"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs", "n_cand"))
      .withColumn("lsh_recall",
        when(col("n_pairs") === 0L, 1.0)
          .otherwise(col("n_cand").cast("double") / col("n_pairs").cast("double")))
  }

  /**
   * The probe-depth half of the calibration: per (threshold, Hamming
   * depth), the LSH route's recall against the exhaustive truth AND its
   * candidate volume — recall is what deeper probing buys, candidate
   * volume is what it costs (the verify join scans every candidate).
   * Depth h probes Σ_{j≤h} C(planes, j) masks; a pair at bucket-Hamming
   * d is found by exactly one mask, so volumes are exact, not
   * multi-counted. Read with [[semanticThresholdSweep]]: pick the
   * cheapest depth whose recall clears the curation bar at the chosen
   * threshold.
   *
   * Scale: one exhaustive truth table (sampled at 100 TB, as above) and
   * per depth one bucket equi-join — the route being priced is the same
   * route production runs.
   */
  def semanticProbeSweep(emb: DataFrame, idCol: String, vecCol: String,
      thresholds: Seq[Double], depths: Seq[Int] = Seq(1, 2),
      dim: Int = 64): DataFrame = {
    require(thresholds.nonEmpty && depths.nonEmpty)
    def sweep(df: DataFrame) = df
      .select(explode(array(thresholds.map(lit): _*)).as("t"), col("cosine"))
      .where(col("cosine") >= col("t"))
    val tDf = emb.sparkSession.createDataFrame(thresholds.map(Tuple1(_))).toDF("t")
    val nPairs = sweep(Embeddings.allPairsCosine(emb, idCol, vecCol))
      .groupBy("t").agg(count(lit(1)).as("n_pairs"))
    depths.map { h =>
      val cand = Embeddings.lshNearPairsCosine(emb, idCol, vecCol, dim,
        maxHamming = h)
      val vol = cand.agg(count(lit(1)).as("cand_volume"))
      val hits = sweep(cand).groupBy("t").agg(count(lit(1)).as("n_cand"))
      tDf.join(hits, Seq("t"), "left").na.fill(0L, Seq("n_cand"))
        .crossJoin(broadcast(vol))
        .withColumn("h", lit(h.toLong))
    }.reduce(_ unionByName _)
      .join(nPairs, Seq("t"), "left").na.fill(0L, Seq("n_pairs"))
      .withColumn("recall",
        when(col("n_pairs") === 0L, 1.0)
          .otherwise(col("n_cand").cast("double") / col("n_pairs").cast("double")))
      .select(col("t"), col("h"), col("n_pairs"), col("n_cand"),
        col("cand_volume"), col("recall"))
  }

  def embeddingDups(emb: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.4, dim: Int = 64, exhaustive: Boolean = false): DataFrame = {
    val cos =
      if (exhaustive) Embeddings.allPairsCosine(emb, idCol, vecCol)
      else Embeddings.lshNearPairsCosine(emb, idCol, vecCol, dim)
    cos.where(col("cosine") >= minCosine)
  }

  /**
   * Duplicate-cluster grouping — the "keep one document per duplicate
   * component" step every dedup pipeline ends with: collapse near-dup
   * PAIRS (from any detector above, columns `doc0`/`doc1`) into connected
   * components and map each doc to its representative, the smallest doc
   * id reachable within `rounds` hops. Docs in no pair map to themselves.
   *
   * `rounds` min-label-propagation rounds unrolled into ONE lazy plan —
   * per round one equi-join of the edge list against the label table plus
   * one min-aggregate (map-side partial). Fixed rounds keep the operator
   * deterministic and oracle-checkable: the contract is "representative
   * within `rounds` hops", exact for any component whose min-eccentricity
   * is ≤ `rounds`. Near-dup components are near-cliques in practice
   * (similarity is ~transitive), so small `rounds` converge; for UNKNOWN
   * diameters use [[dupGroupsConverged]], which loops to the fixed point.
   *
   * The edge list carries a SELF-LOOP per document, so each round's min
   * covers the node's own label through the same join and the label
   * table is referenced ONCE per round — the least(own, min(neighbor))
   * spelling references it twice, doubling the unrolled lazy plan every
   * round (2^rounds copies of the upstream detector pipeline; measured
   * 5× wall-clock on the minhash-fed contract query at rounds = 4).
   * The plan still references `pairs` once PER ROUND: callers should
   * persist (or checkpoint) a detector-derived pairs table before
   * grouping — caching is caller-owned, like `MatrixModel.persist`.
   */
  def dupGroups(docs: DataFrame, pairs: DataFrame, idCol: String,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val ids = docs.select(col(idCol).as("doc_id"))
    val edges = withSelfLoops(ids, undirected(pairs))
    var lbl = ids.select(col("doc_id"), col("doc_id").as("group_rep"))
    for (_ <- 1 to rounds) lbl = propagateMin(edges, lbl)
    lbl
  }

  /**
   * [[dupGroups]] with a SALTED propagation join — the skew-proof plan
   * for corpora with a mega-component hub (a boilerplate template paired
   * with a large fraction of the corpus). The skew sits in each round's
   * edge⋈label equi-join on `dst`: every edge pointing AT the hub lands
   * in the single task owning hash(hub), so one reducer holds the hub's
   * whole in-degree while the rest idle. The salted form (the
   * [[graft.core.CosineAnalysis.alignedPairsSalted]] trick, adapted from
   * pair-triangle to join-replication): edges key by
   * (dst, hash(src) % salts) and the node-sized label table is
   * replicated `salts`× on the other side, splitting each hot dst's rows
   * across `salts` tasks. The trade is `salts`× label-table shuffle
   * bytes (node-sized — CHEAP; the edge side is not replicated) for
   * un-concentrating arbitrarily hot in-degrees; benchmarked against the
   * plain plan on a planted 60%-star fixture (dedup_groups_skew /
   * dedup_groups_skew_salted).
   *
   * MEASURED CROSSOVER — note the physics differ from
   * [[graft.core.CosineAnalysis.alignedPairsSalted]]: pair alignment
   * explodes QUADRATICALLY in the hot key (C(df,2) rows in one task —
   * salting won 10.4× at the sfx1 scale, bench_sf1.json), while this
   * join's hot task is only LINEAR in the hub's in-degree. So plain +
   * AQE wins until deg(hub) ≫ |edges|/tasks: measured 60%-star over
   * orders, local[32] — sf0.1 (9k-spoke hub) plain 1.2 s vs salted
   * 2.4 s; sfx1 (90k-spoke hub) plain 9.3 s vs salted 12.3 s, salting
   * paying its 3.1× label-replication shuffle both times. Reach for the
   * salted plan when one reducer's row count (≈ max in-degree) breaks
   * the per-task time/memory budget — boilerplate hubs touching a
   * corpus-scale fraction of documents — not merely when a hub exists.
   *
   * Same contract and same output as [[dupGroups]] (shared oracle): the
   * min-aggregate itself was never the bottleneck — min is algebraic, so
   * map-side partials already collapse a hot `src` before the exchange.
   */
  def dupGroupsSalted(docs: DataFrame, pairs: DataFrame, idCol: String,
      rounds: Int = 4, salts: Int = 8): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    require(salts >= 1, "salts must be >= 1")
    val ids = docs.select(col(idCol).as("doc_id"))
    val edges = withSelfLoops(ids, undirected(pairs))
      .withColumn("s", pmod(hash(col("src")), lit(salts)))
    var lbl = ids.select(col("doc_id"), col("doc_id").as("group_rep"))
    for (_ <- 1 to rounds) {
      val replicated = lbl
        .select(col("doc_id").as("dst"), col("group_rep").as("nrep"))
        .withColumn("s", explode(expr(s"sequence(0, ${salts - 1})")))
      lbl = edges.join(replicated, Seq("dst", "s"))
        .groupBy(col("src"))
        .agg(min(col("nrep")).as("group_rep"))
        .withColumnRenamed("src", "doc_id")
    }
    lbl
  }

  /** Both directions of the near-dup pair list, as (src, dst) edges. */
  private def undirected(pairs: DataFrame): DataFrame =
    pairs.select(col("doc0").as("src"), col("doc1").as("dst"))
      .union(pairs.select(col("doc1").as("src"), col("doc0").as("dst")))

  /**
   * Connected components by alternating large-star / small-star edge
   * contraction (the Kiveris et al. "Connected Components in MapReduce
   * and Beyond" algorithm) — same (doc_id, group_rep = component min)
   * contract as [[dupGroupsConverged]], different scale physics:
   *
   *   - [[dupGroupsConverged]] re-joins the FULL edge list against the
   *     label table every round. Per-round shuffle is Θ(|E|) forever.
   *   - Star contraction REWRITES the edge set each round: large-star
   *     hangs every node's larger neighbors off its neighborhood
   *     minimum, small-star re-parents smaller neighbors the same way,
   *     and the edge list collapses geometrically toward a star forest
   *     — O(log n) rounds, with the per-round shuffle SHRINKING as the
   *     rounds proceed instead of staying edge-sized. On a 100 TB
   *     near-dup graph the first rounds dominate and later rounds are
   *     almost free, where label propagation pays full price per round.
   *
   * Both emission rules produce canonically-oriented (child > parent)
   * edges — large-star emits (v, m) with v > u ≥ m, small-star emits
   * (v, m) / (u, m) with m strictly below both — so the edge state stays
   * a distinct (big, small) set and convergence is an exact set-equality
   * check (count + one anti-semi except per round; a cluster deployment
   * chasing the last few cents can downgrade it to a hash-checksum
   * comparison, documented rather than done because the contract here is
   * oracle-exact). At the fixed point every edge is (node, its
   * component's minimum): the parent map IS the answer, roots and
   * isolated documents coalesce to themselves. Foreign endpoints are
   * dropped up front under the same two-semi-join contract as
   * [[dupGroups]]; each round's state is checkpointed (reliable dir when
   * configured, executor-local otherwise) to cut the loop's lineage.
   */
  def dupGroupsStars(docs: DataFrame, pairs: DataFrame, idCol: String,
      maxRounds: Int = 40): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val ids = docs.select(col(idCol).as("doc_id"))
    // canonical (big > small) distinct edges, corpus endpoints only
    var edges = pinRound(pairs
      .select(col("doc0").as("a"), col("doc1").as("b"))
      .join(ids.select(col("doc_id").as("a")), Seq("a"), "left_semi")
      .join(ids.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("big"),
        least(col("a"), col("b")).as("small"))
      .distinct())
    // large-star: through the SMALLER endpoint's neighborhood (every
    // canonical edge contributes its big side as the u < v witness)
    def largeStar(e: DataFrame): DataFrame = {
      val dir = e.select(col("big").as("u"), col("small").as("v"))
        .union(e.select(col("small").as("u"), col("big").as("v")))
      val mins = dir.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      dir.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("big"), col("m").as("small"))
        .where(col("big") =!= col("small"))
        .distinct()
    }
    // small-star: through the LARGER endpoint; re-parents its smaller
    // neighbors (and itself) onto their minimum
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("big").agg(min(col("small")).as("m"))
      val kids = e.join(mins, "big")
        .select(col("small").as("big"), col("m").as("small"))
      val self = mins.select(col("big"), col("m").as("small"))
      kids.union(self)
        .where(col("big") =!= col("small"))
        .distinct()
    }
    // each pinned edge set is counted once; the count carries into the
    // next round's equality check
    var n = edges.count()
    var round = 0
    var stable = n == 0
    while (!stable && round < maxRounds) {
      val next = pinRound(smallStar(largeStar(edges)))
      val m = next.count()
      stable = m == n && next.except(edges).isEmpty
      edges = next
      n = m
      round += 1
    }
    ids.join(edges.select(col("big").as("doc_id"), col("small").as("rep")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("group_rep"))
  }

  /** Edge list plus one (id, id) self-loop per document — the invariant
    * [[propagateMin]] relies on to keep each node's own label in reach.
    * Edges touching ids OUTSIDE the corpus are dropped first (two
    * semi-joins, once, outside the rounds loop): under the self-loop
    * formulation a foreign endpoint would otherwise enter the label
    * table after one round and BRIDGE components through ghost nodes —
    * the contract is that foreign edges (stale pair index, filtered
    * corpus) are ignored. */
  private def withSelfLoops(ids: DataFrame, edges: DataFrame): DataFrame = {
    val clean = edges
      .join(ids.select(col("doc_id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
    clean.select(col("src"), col("dst"))
      .union(ids.select(col("doc_id").as("src"), col("doc_id").as("dst")))
  }

  /** One min-label-propagation round: each doc's label drops to the min
    * label over its edge targets. `edges` MUST include self-loops
    * ([[withSelfLoops]]) — they stand in for "the min of its own and its
    * neighbors' labels" while referencing `lbl` only once (see
    * [[dupGroups]]'s plan-size note). */
  private def propagateMin(edges: DataFrame, lbl: DataFrame): DataFrame =
    edges
      .join(lbl.select(col("doc_id").as("dst"), col("group_rep").as("nrep")), "dst")
      .groupBy(col("src"))
      .agg(min(col("nrep")).as("group_rep"))
      .withColumnRenamed("src", "doc_id")

  /** Pins a per-round table and cuts its lineage: through the session's
    * reliable checkpoint directory when one is set (survives executor
    * loss), as executor-local blocks otherwise. */
  private def pinRound(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Pointer-doubling compression: each label jumps to its own label's
    * label. Labels are always ids of reachable docs, so the lookup is
    * total (inner join) and the jump stays inside the component. */
  private def compress(lbl: DataFrame): DataFrame =
    lbl.join(
        lbl.select(col("doc_id").as("group_rep"), col("group_rep").as("rep2")),
        Seq("group_rep"))
      .select(col("doc_id"), least(col("group_rep"), col("rep2")).as("group_rep"))

  /**
   * [[dupGroups]] run to the FIXED POINT — the production form for
   * components of unknown diameter: per round one min-label propagation
   * plus one pointer-doubling compression (labels jump to their label's
   * label), so convergence takes O(log diameter) rounds instead of
   * O(diameter). The loop stops when a round changes no label (one
   * driver-side count per round — this is an eager fit-style operator,
   * unlike the fully-lazy fixed-round form).
   *
   * Each round's label table is checkpointed to cut the loop's lineage
   * (it would otherwise double per round — Spark re-plans the whole
   * history every action): via the session's RELIABLE checkpoint
   * directory when one is configured (`sc.setCheckpointDir` — the
   * cluster-correct choice, survives executor loss), falling back to
   * `localCheckpoint` (executor-local blocks) otherwise. `maxRounds`
   * bounds the loop against pathological inputs; log₂ of any real
   * corpus size is < 40.
   */
  def dupGroupsConverged(docs: DataFrame, pairs: DataFrame, idCol: String,
      maxRounds: Int = 40): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val ids = docs.select(col(idCol).as("doc_id"))
    val edges = pinRound(withSelfLoops(ids, undirected(pairs)))
    var lbl = pinRound(ids.select(col("doc_id"), col("doc_id").as("group_rep")))
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val next = pinRound(compress(propagateMin(edges, lbl)))
      changed = next.as("n")
        .join(lbl.as("p"), "doc_id")
        .where(col("n.group_rep") =!= col("p.group_rep"))
        .count()
      lbl = next
      round += 1
    }
    lbl
  }

  /**
   * Quality-aware representative selection — the step between grouping
   * and deletion: instead of blindly keeping each group's smallest id,
   * keep its highest-QUALITY member. `groups` is a [[dupGroups]]-shaped
   * (doc_id, group_rep) table; `scores` maps each doc to one numeric
   * quality score (token count, a composite signal from
   * [[TextAnalysis.stats]], a model score — any total order). Within each
   * group the max score wins, ties break on the smaller doc id. Returns
   * every grouped-and-scored doc with its group, score, the group's
   * elected `best_id`, and `kept` ∈ {0,1} (1 iff this doc is the
   * electee). Docs missing a score are dropped (inner join) — score
   * coverage is the caller's contract.
   *
   * Scale shape: one equi-join on doc_id, then ONE exchange keyed
   * group_rep feeding a full-frame first_value window — no second join
   * back, no per-group collect. Group cardinality is duplicate-cluster
   * size (small by construction), so no skew mitigation is needed.
   */
  def keepBest(groups: DataFrame, scores: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val sc = scores.select(col(idCol).as("doc_id"), col(scoreCol).as("score"))
    val w = Window.partitionBy("group_rep")
      .orderBy(col("score").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    groups.select(col("doc_id"), col("group_rep"))
      .join(sc, "doc_id")
      .withColumn("best_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("group_rep"), col("score"), col("best_id"),
        when(col("doc_id") === col("best_id"), lit(1L)).otherwise(lit(0L)).as("kept"))
  }

  /**
   * Duplicate-cluster size histogram — the audit table read after every
   * dedup run (how much mass sits in big clusters decides whether the
   * banding thresholds were right): for each distinct cluster size, how
   * many groups have it and how many documents they hold. Singletons
   * (docs in no pair) appear as size 1, so `sum(n_docs)` equals the
   * corpus size — a built-in completeness check.
   *
   * Scale shape: two hash aggregates (group_rep → size, size →
   * histogram), both with map-side partials; output is at most
   * max-cluster-size rows.
   */
  def groupSizeHistogram(groups: DataFrame): DataFrame =
    groups.groupBy("group_rep").agg(count(lit(1)).as("group_size"))
      .groupBy("group_size")
      .agg(count(lit(1)).as("n_groups"),
        sum(col("group_size")).as("n_docs"))

  /** Winnowing window width (token trigrams per window) for [[winnow]]. */
  val WinnowWindow = 4

  /**
   * Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
   * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
   * algorithm): over the document's token-trigram hash sequence, each
   * sliding window of `window` consecutive hashes selects its minimum
   * (rightmost on ties), and the selected (position, hash) pairs —
   * deduplicated — are the document's fingerprints. The winnowing
   * guarantee: any shared token run spanning ≥ window+2 tokens yields at
   * least one shared fingerprint, while the selected set is ~2/(window+1)
   * of all trigrams — the density/recall dial for substring-level
   * near-dup detection at corpus scale (fingerprints feed the same
   * equi-join candidate machinery as [[jaccardPairs]]).
   *
   * Positions are 1-based indices into the non-empty token sequence.
   * Trailing windows (fewer than `window` hashes remain) still select —
   * both sides of the oracle truncate the frame identically, and the
   * extra tail picks only densify coverage.
   *
   * Scale shape: a pure row-local map stage — the hash array, the
   * per-window argmin fold, and the dedup all happen INSIDE each row
   * (array HOFs, cf. [[shinglesLocal]]), so the operator adds ZERO
   * exchanges and runs unchanged on unbounded streams. Per-doc cost is
   * O(tokens · window).
   */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
      window: Int = WinnowWindow): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    // per window start i: fold the (frame-truncated) slice to its
    // rightmost minimum — `<=` keeps the later index on ties
    val sel =
      s"""explode(array_distinct(transform(sequence(1, size(h)), i ->
        |  aggregate(sequence(i, least(i + ${window - 1}, size(h))),
        |    named_struct('pos', CAST(0 AS BIGINT), 'fp', CAST(${Long.MaxValue}L AS BIGINT)),
        |    (acc, j) -> IF(element_at(h, j) <= acc.fp,
        |                   named_struct('pos', CAST(j AS BIGINT), 'fp', element_at(h, j)),
        |                   acc)))))""".stripMargin
    docs
      .select(col(idCol).as("doc_id"), expr(tokenValuesSql(textCol)).as("tvs"))
      .where(size(col("tvs")) >= 3)
      .select(col("doc_id"), expr(ngramArraySql("tvs", 3, distinct = false)).as("h"))
      .select(col("doc_id"), expr(sel).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
  }

  /** [[autoRoute]]'s default df cap (the boilerplate-head kill switch —
    * the dedup_jaccard_prefix_head_capped convention) and per-document
    * pair budget. The budget is PER DOCUMENT on purpose: affordable
    * verification work on any cluster is O(corpus), so a quadratic
    * candidate surface is "fine" exactly when it fits inside c·N — the
    * same rule at sf0.01 and at 100 TB, which keeps the routing choice
    * scale-stable for a same-shaped corpus. */
  val AutoRouteMaxDf: Long = 24L
  val AutoRouteBudgetPerDoc: Long = 128L

  /**
   * The KERNEL ROUTER — "which dedup kernel do I run on 100 TB", decided
   * per group from the measured shingle pair surface
   * ([[graft.core.PairSurface.probe]] keyed by `sh`; its columns are
   * documented there), with `budget_pairs` = `budgetPairsPerDoc` ·
   * n_docs, the affordable (corpus-linear) verification budget. The
   * rule ladder:
   *
   *   1. `exact` — the uncapped surface already fits the budget: run
   *      [[ngramJaccardDups]] (or [[prefixJaccardDups]] uncapped; both
   *      are exact, the choice is constants).
   *   2. `prefix_dfcap` — over budget, but the df cap brings the
   *      surface under it while RETAINING most postings (≥ half): a
   *      df-HEAD corpus (boilerplate chrome) — run [[prefixJaccardDups]]
   *      with `maxDf`; the cap excises exactly the head (when no
   *      shingle exceeds `maxDf` the cap is inert and this is the
   *      plain lossless prefix route).
   *   3. `minhash_banded` — even the capped surface is over budget, or
   *      capping would excise most postings (dense MUTUAL duplication:
   *      template corpora, where df-capping destroys the very signal):
   *      [[minHashDupsFromShingles]] — banded signatures bound
   *      candidates independent of per-shingle df, at the documented
   *      recall curve.
   *
   * The ladder is integer arithmetic like the probe, so the decision
   * row is exact and the contract oracle replays it verbatim.
   */
  def autoRoute(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, maxDf: Long = AutoRouteMaxDf,
      budgetPairsPerDoc: Long = AutoRouteBudgetPerDoc): DataFrame =
    autoRouteFromShingles(
      shinglesLocal(docs, idCol, textCol, keepCols = Seq(groupCol)),
      groupCol, maxDf, budgetPairsPerDoc)

  /** [[autoRoute]] over an already-built shingle table (`doc_id`, `sh`,
    * `groupCol`), so [[autoDedupPairs]] can feed probe and kernel from
    * one shingle derivation. */
  def autoRouteFromShingles(sh: DataFrame, groupCol: String,
      maxDf: Long = AutoRouteMaxDf,
      budgetPairsPerDoc: Long = AutoRouteBudgetPerDoc): DataFrame =
    routeShingles(sh, Seq(groupCol), maxDf, budgetPairsPerDoc)

  /** The router over `groupCols` (empty = one global row). */
  private def routeShingles(sh: DataFrame, groupCols: Seq[String],
      maxDf: Long, budgetPairsPerDoc: Long): DataFrame = {
    require(budgetPairsPerDoc >= 0,
      s"budgetPairsPerDoc must be >= 0, got $budgetPairsPerDoc")
    val nd = sh.groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    PairSurface.probe(sh, groupCols, "sh", maxDf)
      .join(nd, groupCols)
      .withColumn("budget_pairs", col("n_docs") * lit(budgetPairsPerDoc))
      .withColumn("kernel",
        when(col("uncapped_pairs") <= col("budget_pairs"), lit("exact"))
          .when(col("capped_pairs") <= col("budget_pairs") &&
            col("retained_postings") * lit(2L) >= col("postings"),
            lit("prefix_dfcap"))
          .otherwise(lit("minhash_banded")))
      .select((groupCols ++ Seq("n_docs", "postings", "max_df",
        "uncapped_pairs", "capped_pairs", "retained_postings",
        "budget_pairs", "kernel")).map(col): _*)
  }

  /**
   * [[autoRoute]] EXECUTED for a single corpus: measure, pick the
   * kernel, run it, return (doc0, doc1, jaccard) at `minJaccard` —
   * `exact` and `prefix_dfcap` produce the identical exact answer over
   * their (un)capped populations; `minhash_banded` inherits the LSH
   * recall curve. The 1-row decision collect is model-sized (the
   * k-means-centroid convention); the shingle table is built ONCE
   * (eager localCheckpoint — the probe executes at call time anyway)
   * and feeds both the global probe and the chosen kernel, so the
   * corpus is tokenized/shingled exactly one time per call (pinned by
   * DedupSpec's per-row evaluation counter).
   */
  def autoDedupPairs(docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.3, maxDf: Long = AutoRouteMaxDf,
      budgetPairsPerDoc: Long = AutoRouteBudgetPerDoc): DataFrame = {
    val sh = shingles(docs, idCol, textCol).localCheckpoint()
    routeShingles(sh, Nil, maxDf, budgetPairsPerDoc)
      .select("kernel").head().getString(0) match {
      case "exact" =>
        jaccardPairs(sh).where(col("jaccard") >= minJaccard)
          .select("doc0", "doc1", "jaccard")
      case "prefix_dfcap" =>
        val capped = dfCapShingles(sh, maxDf)
        jaccardForBySh(prefixCandidates(capped, minJaccard), capped)
          .where(col("jaccard") >= minJaccard)
          .select("doc0", "doc1", "jaccard")
      case _ =>
        minHashDupsFromShingles(sh, minJaccard)
    }
  }
}
