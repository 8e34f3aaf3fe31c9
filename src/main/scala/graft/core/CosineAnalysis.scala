package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Sparse-matrix pairwise cosine-similarity pipeline, re-derived Spark-first
 * from the reference's semantics (reference:
 * analyse/MatrixCosineAnalyse.scala — fit pipeline normalize → pair → norms).
 *
 * Key deliberate divergences from the reference's physical plan (all are
 * scalability fixes; semantics are identical — see SURVEY.md §4.1):
 *
 *   - Pair alignment is a **self-equi-join on the coordinate** instead of the
 *     reference's per-coordinate `collect_list("vec:val")` + driver-opaque
 *     `flatMap` C(n,2) expansion (reference :168–202). The join stays inside
 *     Catalyst: column pruning, AQE skew-splitting (coordinate popularity is
 *     Zipfian in doc-term matrices), and whole-stage codegen all apply.
 *   - Dense-mode all-pairs is a **self-join of the vector-norm table** under
 *     the canonical-order predicate instead of the reference's single-row
 *     global `collect_list` of every vector (reference :129–160) — that 1-task
 *     funnel is the reference's hard scalability ceiling.
 *   - The `omitRatio` threshold is actually applied. The reference computes
 *     `where(value/max_value > omitRadio)` but discards the result
 *     (immutability bug, reference :92–94), so the filter documented in its
 *     javadoc (:85) never runs. We implement the documented intent:
 *     `omitRatio <= 0` (the default) means no filtering, matching the
 *     reference's *observed* behavior.
 *
 * Semantics kept verbatim:
 *   - Per-vector max-normalization (reference :88–102, :210–216).
 *   - Canonical pair order `vector0 > vector1` — each unordered pair is
 *     materialized exactly once (reference :46–50, :148–152, :188–192).
 *   - Two similarity modes behind `isSparse` (reference :218–231, SURVEY §2.1):
 *     sparse = intersection-restricted cosine (norms over shared support only;
 *     disjoint pairs produce no row); dense = standard cosine (full norms,
 *     disjoint pairs get similarity 0.0).
 *
 * Scale notes (100 TB design): every stage is a shuffle on a natural key
 * (vector or coordinate or pair or bucket) with map-side partial
 * aggregation; nothing is ever collected to one task and nothing is
 * unconditionally broadcast. The aligned-pair table is the quadratic
 * object — Σ_coord C(n_coord, 2) rows — which is inherent to exact
 * all-pairs cosine; for web-scale vector counts use
 * [[graft.ext.Embeddings]] (top-k / IVF) or [[graft.ext.Dedup]]
 * (LSH-pruned near-dup) instead of the exact all-pairs surface.
 *
 * @param axis      which COO column ("x" or "y") identifies a vector; the
 *                  other column is the feature/coordinate
 *                  (reference :12–22; SURVEY §1.3).
 * @param omitRatio drop normalized cells with normalized value <= omitRatio
 *                  when > 0 (ratio-to-max under the default scheme).
 * @param normalizedType per-vector normalization scheme: "max" (divide by
 *                  the vector's max — the reference's only behavior),
 *                  "l2" (unit-norm vectors), or "none". The reference
 *                  DECLARES this parameter but never reads it
 *                  (MatrixCosineAnalyse.scala:15); we implement it.
 *                  Cosine similarity is invariant to any per-vector
 *                  positive scaling, so the scheme affects only the
 *                  normalized table (and the omitRatio threshold's unit),
 *                  never the similarities — pinned by a test.
 */
final class CosineAnalysis(
    spark: SparkSession,
    val axis: String = "y",
    val omitRatio: Double = 0.0,
    val normalizedType: String = "max") extends Serializable {

  require(axis == "x" || axis == "y", s"axis must be 'x' or 'y', got '$axis'")
  require(Seq("max", "l2", "none").contains(normalizedType),
    s"normalizedType must be max|l2|none, got '$normalizedType'")

  import spark.implicits._

  /** The non-vector axis: identifies the feature/coordinate (reference :19–22). */
  val predictionAxis: String = if (axis == "y") "x" else "y"

  /** Per-vector max values (reference genMaxValue :210–216). One shuffle, hash agg. */
  def maxValues(matrix: Dataset[MatrixElement]): Dataset[MaxValue] =
    matrix
      .groupBy(col(axis).as("axis"))
      .agg(max($"value").as("max_value"))
      .as[MaxValue]

  /**
   * Divide every cell by its vector's max (reference genNormalizedElement
   * :88–102). The max table has one row per vector — usually far smaller
   * than the cell table — but it is NOT force-broadcast: one row per vector
   * means billions of rows at the 100 TB design point, past Spark's hard
   * broadcast limits. Catalyst/AQE picks broadcast-hash whenever the table
   * is actually small (it is at every test sf) and falls back to a shuffle
   * join when it is not. Applies the (fixed) omitRatio filter when > 0.
   */
  def normalize(matrix: Dataset[MatrixElement]): Dataset[NormalizedElement] = {
    val joined = normalizedType match {
      case "max" =>
        val mv = maxValues(matrix)
        matrix
          .join(mv, matrix(axis) === mv("axis"))
          .select($"y", $"x",
            ($"value" / $"max_value").cast("double").as("normalized_value"))
      case "l2" =>
        val nrm = matrix
          .groupBy(col(axis).as("axis"))
          .agg(sqrt(sum($"value" * $"value")).as("l2"))
        matrix
          .join(nrm, matrix(axis) === nrm("axis"))
          .select($"y", $"x",
            ($"value" / $"l2").cast("double").as("normalized_value"))
      case "none" =>
        matrix.select($"y", $"x", $"value".cast("double").as("normalized_value"))
    }
    val filtered =
      if (omitRatio > 0.0) joined.where($"normalized_value" > omitRatio)
      else joined
    filtered.as[NormalizedElement]
  }

  /**
   * All (vector0, vector1, coordinate) triples where both vectors have the
   * coordinate, canonical order vector0 > vector1 — the reference's
   * genFactorNormalizedValue (:168–202) rebuilt as the coordinate-keyed
   * [[PairSurface.pairs]] join, its `b` side read as `vector0`. Both join
   * inputs are the same dataset shuffled by the same key, so Catalyst
   * reuses the exchange; AQE splits skewed coordinates.
   */
  def alignedPairs(normalized: Dataset[NormalizedElement]): Dataset[FactorNormalizedValue] = {
    val v = normalized.select(
      col(axis).as("vector"),
      col(predictionAxis).as("coord"),
      $"normalized_value".as("nv"))
    PairSurface.pairs(v, Seq("coord"), "vector")
      .select(
        $"b.vector".as("vector0"),
        $"a.vector".as("vector1"),
        $"b.coord".as("prediction_axis"),
        $"b.nv".as("value1"),
        $"a.nv".as("value2"))
      .as[FactorNormalizedValue]
  }

  /**
   * Document-frequency cap: drop coordinates present in more than `maxDf`
   * vectors BEFORE pair alignment. This is the real 100 TB mitigation for
   * the Zipf head — one stop-word-like coordinate present in most of N
   * vectors contributes ~C(N,2) aligned pairs all by itself, and no join
   * strategy survives that. Capping df bounds the per-coordinate expansion
   * at C(maxDf, 2); combined with TF-IDF weighting
   * ([[graft.text.Tokenizer.tfIdf]]) the dropped coordinates are exactly
   * the ones whose similarity contribution is ~0.
   *
   * One counting aggregate keyed by coordinate + one left-semi
   * equi-join ([[PairSurface.cap]]).
   */
  def dfCap(normalized: Dataset[NormalizedElement], maxDf: Long): Dataset[NormalizedElement] =
    PairSurface.cap(normalized.toDF(), Seq(predictionAxis), maxDf).as[NormalizedElement]

  /**
   * Skew-proof pair alignment: same output as [[alignedPairs]], built with
   * the triangle-bucket scheme on (coordinate, salt-pair task) instead of a
   * bare coordinate self-join. When one coordinate's row count dwarfs the
   * rest (Zipf head that survived [[dfCap]]), the plain self-join puts its
   * whole C(n,2) expansion in one task unless AQE's skew thresholds happen
   * to fire; salting splits every coordinate's expansion across
   * S(S+1)/2 tasks deterministically, at the cost of replicating each row
   * S+1 times into the shuffle (a row with salt s joins salts−s tasks on
   * the left side plus s+1 on the right). Use for known-skewed matrices;
   * the plain join is cheaper when coordinates are near-uniform.
   */
  def alignedPairsSalted(normalized: Dataset[NormalizedElement],
      salts: Int = 8): Dataset[FactorNormalizedValue] = {
    require(salts > 0)
    val tasks = (for { i <- 0 until salts; j <- i until salts }
      yield (i, j, i.toLong * salts + j)).toDF("ti", "tj", "task")
    val v = normalized.select(
        col(axis).as("vector"),
        col(predictionAxis).as("coord"),
        $"normalized_value".as("nv"))
      .withColumn("s", pmod(hash($"vector"), lit(salts)))
    val left = v.join(tasks, $"s" === $"ti")
      .select($"coord", $"task", $"ti", $"tj", $"vector".as("va"), $"nv".as("na"))
    val right = v.join(tasks.select($"tj".as("rj"), $"task"), $"s" === $"rj")
      .select($"coord".as("rcoord"), $"task".as("rtask"), $"vector".as("vb"), $"nv".as("nb"))
    left.join(right, $"coord" === $"rcoord" && $"task" === $"rtask")
      // i < j tasks hold every cross-bucket pair once (either orientation);
      // i = j tasks need the in-bucket canonical filter
      .where($"ti" < $"tj" || $"va" > $"vb")
      .select(
        when($"va" > $"vb", $"va").otherwise($"vb").as("vector0"),
        when($"va" > $"vb", $"vb").otherwise($"va").as("vector1"),
        $"coord".as("prediction_axis"),
        when($"va" > $"vb", $"na").otherwise($"nb").as("value1"),
        when($"va" > $"vb", $"nb").otherwise($"na").as("value2"))
      .as[FactorNormalizedValue]
  }

  /**
   * Sparse-mode pairwise norms: L2 over ONLY the pair's co-occurring
   * coordinates (reference genFactorMod :68–78, javadoc :61–63). Pairs with
   * empty intersection are absent from the input, hence absent here — that
   * is the sparse-mode contract (SURVEY §2.1).
   */
  def pairModsSparse(pairs: Dataset[FactorNormalizedValue]): Dataset[FactorMod] =
    pairs
      .groupBy($"vector0", $"vector1")
      .agg(
        sqrt(sum($"value1" * $"value1")).as("mod1"),
        sqrt(sum($"value2" * $"value2")).as("mod2"))
      .as[FactorMod]

  /** Full per-vector L2 norms (reference genVectorMod :110–119). */
  def vectorMods(normalized: Dataset[NormalizedElement]): Dataset[VectorMod] =
    normalized
      .groupBy(col(axis).as("vector"))
      .agg(sqrt(sum($"normalized_value" * $"normalized_value")).as("mod"))
      .as[VectorMod]

  /**
   * Dense-mode pairwise norms: every C(V,2) pair of full vector norms,
   * canonical order (reference genFactorMod2 / genFactorAllElementMod
   * :129–160, :30–58 — the reference funnels all V norms through one task
   * via a global collect_list, which we must not reproduce).
   *
   * A naive `a.vector > b.vector` self-join has no equi key, so Spark
   * plans BroadcastNestedLoopJoin — all comparisons in few tasks. Instead
   * we use the standard triangle-bucket scheme: hash every vector into one
   * of `buckets` buckets, enumerate the B(B+1)/2 unordered bucket pairs as
   * tasks, replicate each vector to its ~B tasks, and equi-join on the
   * task id. The C(V,2) pair generation then shuffles on a uniform
   * synthetic key across B(B+1)/2 partitions-worth of work — fully
   * parallel, no broadcast of the whole table, no nested loop. Output is
   * identical to the naive join (canonicalized inside each task).
   */
  def pairModsDense(mods: Dataset[VectorMod], buckets: Int = 32): Dataset[FactorMod] = {
    require(buckets > 0)
    val tasks = (for { i <- 0 until buckets; j <- i until buckets }
      yield (i, j, i.toLong * buckets + j)).toDF("ti", "tj", "task")
    val withB = mods.toDF().withColumn("b", pmod(hash($"vector"), lit(buckets)))
    val left = withB.join(tasks, $"b" === $"ti")
      .select($"task", $"ti", $"tj", $"vector".as("va"), $"mod".as("ma"))
    val right = withB.join(tasks.select($"tj".as("rj"), $"task"), $"b" === $"rj")
      .select($"task", $"vector".as("vb"), $"mod".as("mb"))
    left.join(right, Seq("task"))
      .where($"ti" < $"tj" || $"va" > $"vb")
      .select(
        when($"va" > $"vb", $"va").otherwise($"vb").as("vector0"),
        when($"va" > $"vb", $"vb").otherwise($"va").as("vector1"),
        when($"va" > $"vb", $"ma").otherwise($"mb").as("mod1"),
        when($"va" > $"vb", $"mb").otherwise($"ma").as("mod2"))
      .as[FactorMod]
  }

  /**
   * Reference-parity alias for [[pairModsDense]]: the reference publishes
   * the dense all-pairs norm table as its own API entry,
   * `genFactorAllElementMod` (MatrixCosineAnalyse.scala:30–58, a public
   * near-duplicate of its internal genFactorMod2 :129–160). Same output
   * contract — every C(V,2) pair of full vector norms, canonical order —
   * built on the triangle-bucket equi-join instead of the reference's
   * single-task global collect_list.
   */
  def genFactorAllElementMod(mods: Dataset[VectorMod]): Dataset[FactorMod] =
    pairModsDense(mods)

  /**
   * Full fit pipeline (reference simpleFit :218–242): normalize → align
   * pairs → pairwise norms (mode-dependent).
   *
   * Unlike the reference, nothing is persisted by default: a one-shot
   * query plan consumes each table once (the sparse path computes
   * numerator and both norms in a single aggregation pass — see
   * [[MatrixModel.allSimilarityValue]]), and building Spark's columnar
   * cache for the quadratic pair table costs more than it saves
   * (profiled: cache build dominated the sparse pipeline at sf0.1).
   * Call [[MatrixModel.persist]] when the model will serve MANY queries —
   * that is the reference's interactive pattern, made explicit.
   */
  def fit(matrix: Dataset[MatrixElement], isSparse: Boolean = true): MatrixModel =
    fit(matrix, isSparse, identity)

  /**
   * [[fit]] with the repo's `pin` hook (r13): the normalized table feeds
   * BOTH the pair alignment and the norm branch, and the matrix itself is
   * usually an aggregate over a fact table — unpinned, the physical plan
   * re-derives the source scan → matrix aggregate → normalize join once
   * per consumer (measured: cosine_topk re-scanned the fact table 8× at
   * sf0.1 — 20 Exchanges for a V=1,000 pipeline). Pass
   * `pin = _.localCheckpoint()` (the SparseAnn convention) to
   * derive it once; the default `identity` keeps the library's lazy
   * one-shot-plan contract. Results are pin-invariant (double sums ride
   * the contract's 1e-6 snap).
   */
  def fit(matrix: Dataset[MatrixElement], isSparse: Boolean,
      pin: DataFrame => DataFrame): MatrixModel = {
    val normalized = pinned(normalize(matrix), pin)
    val pairs = alignedPairs(normalized)
    val mods =
      if (isSparse) pairModsSparse(pairs)
      else pairModsDense(vectorMods(normalized))
    new MatrixModel(spark, pairs, mods, isSparse)
  }

  /** Apply the caller's pin to a typed table, preserving the encoder. */
  private def pinned[T: org.apache.spark.sql.Encoder](ds: Dataset[T],
      pin: DataFrame => DataFrame): Dataset[T] =
    pin(ds.toDF()).as[T]

  /**
   * Predict missing cells from pairwise similarity — the reference's
   * ANNOUNCED-but-unimplemented feature (README.md:23 "后续更新…预测稀疏
   * 向量缺失值"; the `forecast_axis`/`prediction_axis` scaffolding at
   * MatrixModel.scala:16–19 exists for it). Implemented as
   * similarity-weighted collaborative filtering:
   *
   *   predicted(v, c) = Σ_{u ∈ topK(v), u has c} sim(v,u)·norm(u,c)
   *                     / Σ sim(v,u)
   *
   * over each vector's `neighbors` most-similar positive neighbors (dense
   * cosine), for coordinates v does not already have. Similarities are
   * snapped to the 1e-6 grid before ranking and weighting so neighbor
   * selection is totally ordered and reproducible.
   *
   * Scale shape: one window over the similarity table (partitioned by
   * vector), one equi-join neighbor→cells, one aggregate — the candidate
   * set is bounded by V · neighbors · cells-per-vector, never V².
   */
  def predictMissing(matrix: Dataset[MatrixElement], neighbors: Int = 5): DataFrame =
    predictMissing(matrix, neighbors, identity)

  /** [[predictMissing]] with the `pin` hook (r13): the normalized table
    * feeds the similarity fit AND the neighbor-cell join — see
    * [[fit(matrix:Dataset[MatrixElement],isSparse:Boolean,pin:DataFrame=>DataFrame)*]].
    * The fit is built directly over the pinned normalized table so the
    * whole prediction derives the matrix exactly once. */
  def predictMissing(matrix: Dataset[MatrixElement], neighbors: Int,
      pin: DataFrame => DataFrame): DataFrame = {
    require(neighbors > 0)
    val n = pinned(normalize(matrix), pin)
    val sims = new MatrixModel(spark, alignedPairs(n),
      pairModsDense(vectorMods(n)), isSparse = false).allSimilarityValue.toDF()
    // both directions of each canonical pair in ONE pass over sims — a
    // union of two selects would evaluate the whole dense pipeline twice
    val sym = sims.select(explode(array(
        struct($"vector0".as("v"), $"vector1".as("u"), $"similarity_value".as("s")),
        struct($"vector1".as("v"), $"vector0".as("u"), $"similarity_value".as("s"))))
        .as("p"))
      .select($"p.v".as("v"), $"p.u".as("u"),
        (floor($"p.s" * lit(1e6) + lit(0.50001)) / lit(1e6)).as("s"))
      .where($"s" > 0.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("v").orderBy($"s".desc, $"u".asc)
    val top = sym.withColumn("rn", row_number().over(w)).where($"rn" <= neighbors)
    val cells = n.select(col(axis).as("u"), col(predictionAxis).as("coord"),
      $"normalized_value".as("nv"))
    val contrib = top.join(cells, "u")
      .groupBy($"v", $"coord")
      .agg((sum($"s" * $"nv") / sum($"s")).as("predicted_value"))
    val existing = matrix.select(col(axis).as("v"), col(predictionAxis).as("coord"))
    val missingOnly = contrib.join(existing, Seq("v", "coord"), "left_anti")
    if (axis == "y")
      missingOnly.select($"v".as("y"), $"coord".as("x"), $"predicted_value")
    else
      missingOnly.select($"coord".as("y"), $"v".as("x"), $"predicted_value")
  }

  /**
   * [[CosineAnalysis.autoRouteAligned]] EXECUTED for a single matrix:
   * measure the coordinate-df surface of the NORMALIZED cells (so an
   * `omitRatio` filter is routed on the population it leaves), pick the
   * alignment kernel, run it. `exact` and `salted` produce the identical
   * exact pair table by different physical plans; `dfcap` excises
   * coordinates with df > `maxDf` before alignment (the Zipf-head
   * mitigation, [[dfCap]] semantics — the kernel a genuinely over-budget
   * doc-term matrix must take).
   *
   * The 1-row decision collect is model-sized (the k-means-centroid
   * convention) and executes at call time; the normalized table is
   * pinned with an eager localCheckpoint and feeds both the global
   * probe and the chosen kernel — one normalize pass per call (the
   * [[graft.ext.Dedup.autoDedupPairs]] convention).
   */
  def autoAlignedPairs(matrix: Dataset[MatrixElement],
      maxDf: Long = CosineAnalysis.AutoAlignMaxDf,
      budgetPairsPerVec: Long = CosineAnalysis.AutoAlignBudgetPerVec,
      salts: Int = 8): Dataset[FactorNormalizedValue] = {
    val n = normalize(matrix).localCheckpoint()
    CosineAnalysis
      .routeAligned(n.toDF(), axis, predictionAxis, Nil, maxDf, budgetPairsPerVec)
      .select("kernel").head().getString(0) match {
      case "exact"  => alignedPairs(n)
      case "salted" => alignedPairsSalted(n, salts)
      case _        => alignedPairs(dfCap(n, maxDf))
    }
  }
}

/**
 * The cosine core's KERNEL ROUTER — the [[graft.ext.Dedup.autoRoute]]
 * pattern applied to the pair-alignment family. The reference's one
 * real scalability cliff is exactly here (MatrixCosineAnalyse.scala:
 * 168–202: per-coordinate C(n,2) expansion — the first thing a 100 TB
 * doc-term matrix hits); the router chooses among the escape hatches
 * ([[CosineAnalysis.dfCap]], [[CosineAnalysis.alignedPairsSalted]])
 * from the measured surface.
 */
object CosineAnalysis {

  /** [[autoRouteAligned]]'s default df cap (sits above the organic
    * per-coordinate df of every contract matrix, ~30–53 at all measured
    * scales, and below any planted/Zipf head — the
    * aligned_pairs_skew_dfcap convention) and per-VECTOR pair budget.
    * The budget is per vector on purpose: affordable alignment work on
    * any cluster is O(matrix), so a quadratic pair surface is "fine"
    * exactly when it fits inside c·V — the same rule at sf0.01 and at
    * 100 TB, which keeps the routing choice scale-stable for a
    * same-shaped matrix. 1000 sits ~2× above the organic supplier/
    * customer matrices' measured ~500–600 pairs/vector. */
  val AutoAlignMaxDf: Long = 64L
  val AutoAlignBudgetPerVec: Long = 1000L

  /** Hot-coordinate concentration cut of the `salted` rung, as a
    * rational (hot_pairs > 2/3 · uncapped_pairs ⇒ the head dominates):
    * the measured sf0.1 crossover (EntryUtil.skewedCustomerMatrix's
    * scaladoc) has the PLAIN join still winning at a 30 % head (hot ≈
    * half the surface) and salting winning 2.5× at a 60 % head (hot ≈
    * 0.82 of it) — 2/3 separates the two measured points. */
  val AutoAlignHotNum: Long = 3L
  val AutoAlignHotDen: Long = 2L

  /**
   * "Which alignment kernel do I run on 100 TB", decided per group from
   * the measured coordinate pair surface of the COO cells (one row per
   * (vector, coordinate) cell — the table
   * [[CosineAnalysis.alignedPairs]] self-joins;
   * [[PairSurface.probe]] keyed by `coordCol`, whose columns are
   * documented there), plus
   *
   *   - `hot_pairs` = C(max_df, 2) — the single hottest coordinate's
   *     share of the surface (the task-skew signal: the plain
   *     self-equi-join hands all of it to the task owning that
   *     coordinate);
   *   - `budget_pairs` = `budgetPairsPerVec` · n_vectors — the
   *     affordable (matrix-linear) alignment budget.
   *
   * The rule ladder:
   *
   *   1. `exact` — the surface fits the budget AND no single coordinate
   *      dominates it (hot_pairs ≤ ⅔ · uncapped): plain
   *      [[CosineAnalysis.alignedPairs]] — the exchange-reusing
   *      self-join, cheapest when coordinates are near-uniform (the
   *      measured 30 %-head crossover).
   *   2. `salted` — fits the budget but one coordinate holds > ⅔ of it
   *      (an affordable-but-skewed matrix):
   *      [[CosineAnalysis.alignedPairsSalted]] — same exact rows,
   *      triangle-bucket plan that splits the hot task S(S+1)/2 ways.
   *   3. `dfcap` — over budget (a Zipf/boilerplate head whose C(df,2)
   *      no join strategy survives): [[CosineAnalysis.dfCap]] then
   *      align — the cap excises the head; `capped_pairs` and
   *      `retained_postings` in the decision row price what it keeps
   *      (on a genuine head: most postings, a ~linear surface). When
   *      even the capped surface is unaffordable or capping would
   *      excise most postings (dense MUTUAL support), the row's own
   *      diagnostics say so and the answer is a candidate route
   *      ([[graft.ext.SparseAnn.topSimilarIvf]]), not all-pairs
   *      alignment.
   *
   * The ladder is integer arithmetic like the probe, so the decision
   * row is exact and the contract oracle replays it verbatim.
   */
  def autoRouteAligned(cells: DataFrame, vecCol: String, coordCol: String,
      groupCol: String, maxDf: Long = AutoAlignMaxDf,
      budgetPairsPerVec: Long = AutoAlignBudgetPerVec): DataFrame =
    routeAligned(cells, vecCol, coordCol, Seq(groupCol), maxDf, budgetPairsPerVec)

  /** The router over `groupCols` (empty = one global row). */
  private[core] def routeAligned(cells: DataFrame, vecCol: String,
      coordCol: String, groupCols: Seq[String], maxDf: Long,
      budgetPairsPerVec: Long): DataFrame = {
    require(budgetPairsPerVec >= 0,
      s"budgetPairsPerVec must be >= 0, got $budgetPairsPerVec")
    val nv = cells.groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col(vecCol)).as("n_vectors"))
    PairSurface.probe(cells, groupCols, coordCol, maxDf)
      .withColumn("hot_pairs", expr("max_df * (max_df - 1) DIV 2"))
      .join(nv, groupCols)
      .withColumn("budget_pairs", col("n_vectors") * lit(budgetPairsPerVec))
      .withColumn("kernel",
        when(col("uncapped_pairs") <= col("budget_pairs") &&
            col("hot_pairs") * lit(AutoAlignHotNum) <=
              col("uncapped_pairs") * lit(AutoAlignHotDen), lit("exact"))
          .when(col("uncapped_pairs") <= col("budget_pairs"), lit("salted"))
          .otherwise(lit("dfcap")))
      .select((groupCols ++ Seq("n_vectors", "postings", "max_df",
        "hot_pairs", "uncapped_pairs", "capped_pairs", "retained_postings",
        "budget_pairs", "kernel")).map(col): _*)
  }
}

/**
 * Fitted similarity model (reference: matrix/MatrixModel.scala). Holds the
 * aligned-pair table and the pairwise-norm table; queries compose the
 * cosine from them.
 */
final class MatrixModel(
    spark: SparkSession,
    val factorNormalizedValue: Dataset[FactorNormalizedValue],
    val factorMod: Dataset[FactorMod],
    val isSparse: Boolean = true) extends Serializable {

  import spark.implicits._

  /**
   * Sparse-mode similarity in ONE aggregation pass: the numerator
   * Σ v0ᵢ·v1ᵢ and both intersection-restricted norms share the same
   * groupBy(vector0, vector1), so the whole query is a single shuffle with
   * map-side partial aggregation — no join, no cached intermediate. The
   * reference computes the same three aggregates in two passes joined back
   * together (MatrixModel.scala:58–69); the values are identical.
   */
  private def sparseSimilarity(
      pairs: Dataset[FactorNormalizedValue]): Dataset[SimilarityValue] =
    pairs
      .groupBy($"vector0", $"vector1")
      .agg(
        sum($"value1" * $"value2").as("numerator"),
        sqrt(sum($"value1" * $"value1")).as("mod1"),
        sqrt(sum($"value2" * $"value2")).as("mod2"))
      .select(
        $"vector0",
        $"vector1",
        coalesce($"numerator" / ($"mod1" * $"mod2"), lit(0.0)).as("similarity_value"))
      .as[SimilarityValue]

  /**
   * Dense-mode similarity: numerator per co-occurring pair (reference
   * MatrixModel.scala:58–62), right-joined onto the full-norm table so
   * pairs with zero co-occurring coordinates still get a row with
   * similarity 0.0 (reference :63–69; null numerator coalesced to 0).
   */
  private def computeSimilarity(
      pairs: Dataset[FactorNormalizedValue],
      mods: Dataset[FactorMod]): Dataset[SimilarityValue] = {
    val numerator = pairs
      .groupBy($"vector0", $"vector1")
      .agg(sum($"value1" * $"value2").as("numerator"))
    numerator
      .join(mods, Seq("vector0", "vector1"), "right")
      .select(
        $"vector0",
        $"vector1",
        coalesce($"numerator" / ($"mod1" * $"mod2"), lit(0.0)).as("similarity_value"))
      .as[SimilarityValue]
  }

  /** All pairwise similarities (reference MatrixModel.scala:26–28). */
  def allSimilarityValue: Dataset[SimilarityValue] =
    if (isSparse) sparseSimilarity(factorNormalizedValue)
    else computeSimilarity(factorNormalizedValue, factorMod)

  /** Above this subset size, [[similarity]] switches from IN-lists to a semi-join. */
  val IsinMaxSize = 100

  /**
   * Similarities restricted to pairs whose BOTH endpoints are in `vectors`
   * (reference MatrixModel.scala:36–47). The reference drops to an RDD
   * filter (exits Catalyst) and leaves the numerator unfiltered — aggregating
   * every pair then discarding most via the join. We filter BOTH inputs
   * before the aggregate: small subsets as IN-list predicates (pushable),
   * large subsets as broadcast semi-joins (an IN-list with thousands of
   * literals builds a degenerate expression tree).
   */
  def similarity(vectors: Seq[String]): Dataset[SimilarityValue] = {
    require(vectors.nonEmpty, "similarity(vectors): the vector subset is empty")
    def filterBoth(df: DataFrame): DataFrame =
      if (vectors.size <= IsinMaxSize)
        df.where(col("vector0").isin(vectors: _*) && col("vector1").isin(vectors: _*))
      else {
        val vs = broadcast(vectors.toDF("v"))
        df.join(vs, df("vector0") === vs("v"), "left_semi")
          .join(vs, df("vector1") === vs("v"), "left_semi")
      }
    val pairs = filterBoth(factorNormalizedValue.toDF()).as[FactorNormalizedValue]
    if (isSparse) sparseSimilarity(pairs)
    else computeSimilarity(pairs, filterBoth(factorMod.toDF()).as[FactorMod])
  }

  /**
   * Each vector's k most-similar neighbors: the symmetrized similarity
   * table ranked per vector by (1e-6-snapped similarity desc, neighbor id
   * asc) — a total order, so results are reproducible. One window over
   * one shuffle by vector.
   */
  def topSimilar(k: Int): DataFrame = {
    require(k > 0)
    val sims = allSimilarityValue.toDF()
    // single-pass symmetrization (see predictMissing): explode, not union
    val sym = sims.select(explode(array(
        struct($"vector0".as("vector"), $"vector1".as("neighbor"), $"similarity_value"),
        struct($"vector1".as("vector"), $"vector0".as("neighbor"), $"similarity_value")))
        .as("p"))
      .select($"p.vector".as("vector"), $"p.neighbor".as("neighbor"),
        (floor($"p.similarity_value" * lit(1e6) + lit(0.50001)) / lit(1e6))
          .as("similarity_value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vector").orderBy($"similarity_value".desc, $"neighbor".asc)
    sym
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= k)
      .select("vector", "rank", "neighbor", "similarity_value")
  }

  /**
   * Cache the model's tables for interactive use — the reference's persist
   * points (MatrixCosineAnalyse.scala:220,225,233), opt-in because the
   * columnar cache build only pays off when the model serves several
   * actions.
   */
  def persist(): this.type = {
    factorNormalizedValue.persist(StorageLevel.MEMORY_AND_DISK)
    factorMod.persist(StorageLevel.MEMORY_AND_DISK)
    this
  }

  def unpersistAll(): Unit = {
    factorNormalizedValue.unpersist()
    factorMod.unpersist()
  }
}
