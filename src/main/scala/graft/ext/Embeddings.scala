package graft.ext

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PairSurface

/**
 * Similarity search over embedding columns (`array<float>`): exact cosine
 * via higher-order functions, brute-force top-k as the correctness
 * baseline, and an IVF-style bucketed variant as the scale path.
 *
 * Vector math is `zip_with`/`aggregate` SQL (SURVEY.md §4.3) — codegen'd
 * Catalyst expressions, no UDF serialization. Elements are cast to double
 * BEFORE multiplying so every product is an exactly-rounded IEEE op that
 * any engine reproduces bit-for-bit; only the final sum carries order
 * noise, which the 1e-6 result grid absorbs.
 *
 * Scale shapes:
 *   - [[topK]] broadcasts the (small) query set against the distributed
 *     candidate set — the standard embarrassingly-parallel brute-force kNN.
 *   - [[ivfTopK]] equi-joins on a coarse quantizer bucket, cutting the
 *     candidate set by ~the bucket count; the quantizer (argmax dimension)
 *     is comparison-only, so it is exactly reproducible everywhere.
 *   - all-pairs ([[allPairsCosine]]) is intentionally the last resort and
 *     documented as such — near-dup at scale goes through LSH/IVF.
 */
object Embeddings {

  /**
   * Exact-order dot product of two array<float> columns, in SQL text form.
   * Backed by the codegen'd [[graft.functions.FloatDot]] expression — the
   * declarative `aggregate(zip_with(...))` spelling computes the identical
   * value but interpretedly, with per-element boxing (~40× slower on the
   * all-pairs path at sf0.1).
   */
  def dotSql(a: String, b: String): String = s"float_dot($a, $b)"

  /** L2 norm of an array column, in SQL text form. */
  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** (vec_id, emb, nrm): ids, raw vectors, and precomputed L2 norms. */
  def withNorms(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("emb"))
      .withColumn("nrm", expr(normSql("emb")))
  }

  /** Snap a double column to the 1e-6 grid (reproducible thresholds/ranks). */
  // Same biased rounding as graft.entry.EntryUtil.gate — see its scaladoc.
  private def snapCol(c: Column) =
    floor(c * lit(1e6) + lit(0.50001)) / lit(1e6)
  private def snap(c: String) = snapCol(col(c))

  /**
   * Cosine for every vector pair (canonical v0 < v1), rounded to 1e-6.
   * O(N²) by construction — correctness baseline and small-N tool only.
   */
  def allPairsCosine(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val n = withNorms(emb, idCol, vecCol)
    val pairs = PairSurface.pairs(n, Nil, "vec_id")
      .select(
        col("a.vec_id").as("v0"), col("b.vec_id").as("v1"),
        (expr(dotSql("a.emb", "b.emb")) / (col("a.nrm") * col("b.nrm"))).as("c"))
    pairs.select(col("v0"), col("v1"), snap("c").as("cosine"))
  }

  /**
   * Brute-force cosine top-k: for each query vector, the k nearest
   * non-self candidates, ranked by (rounded cosine desc, vec_id asc) so
   * ranking is total and reproducible. The query side is broadcast — on a
   * cluster the candidate scan parallelizes perfectly.
   */
  def topK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val cand = withNorms(candidates, idCol, vecCol)
    val q = withNorms(queries, idCol, vecCol)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("emb", "qemb")
      .withColumnRenamed("nrm", "qnrm")
    val scored = cand.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (expr(dotSql("qemb", "emb")) / (col("qnrm") * col("nrm"))).as("c"))
      .select(col("query_id"), col("vec_id"), snap("c").as("cosine"))
    rank(scored, k)
  }

  /**
   * Hard-negative mining for contrastive training: for each anchor, the
   * k highest-cosine candidates with a DIFFERENT label — the near-miss
   * negatives that make embedding-model training data hard (random
   * negatives are trivially separable; hard ones carry the gradient).
   * The label doubles as the positive/relevance proxy, so the output is
   * a ready (anchor, negative, rank, cosine) table for triplet/InfoNCE
   * batch construction.
   *
   * [[topK]]'s exact plan with one extra label inequality in the join —
   * the scan shape stays broadcast-queries × candidate scan, ranked by
   * (snapped cosine desc, id asc). Swap the candidate side through an
   * ANN index ([[lshTopK]] shape) at full scale; exact mining is the
   * calibration path that measures what the index variant misses.
   */
  def hardNegatives(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val cand = withNorms(candidates, idCol, vecCol)
      .join(candidates.select(col(idCol).as("vec_id"),
        col(labelCol).as("lbl")), "vec_id")
    val q = withNorms(queries, idCol, vecCol)
      .join(queries.select(col(idCol).as("vec_id"),
        col(labelCol).as("qlbl")), "vec_id")
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("emb", "qemb")
      .withColumnRenamed("nrm", "qnrm")
    val scored = cand
      .join(broadcast(q),
        col("query_id") =!= col("vec_id") && col("qlbl") =!= col("lbl"))
      .select(col("query_id"), col("vec_id"),
        (expr(dotSql("qemb", "emb")) / (col("qnrm") * col("nrm"))).as("c"))
      .select(col("query_id"), col("vec_id"), snap("c").as("cosine"))
    rank(scored, k)
  }

  /**
   * Margin-based pair mining (Artetxe & Schwenk 2019, "Margin-based
   * Parallel Corpus Mining with Multilingual Sentence Embeddings") — the
   * standard alignment-mining criterion for building parallel/paired
   * training data from two embedded corpora: a raw cosine threshold
   * over-mines in dense neighborhoods and under-mines in sparse ones, so
   * each pair's score is NORMALIZED by its two endpoints' local densities:
   *
   *   margin(q,c) = cos(q,c) / ((avgTopK_fwd(q) + avgTopK_bwd(c)) / 2)
   *
   * where avgTopK_fwd(q) is the mean of q's k best candidate cosines and
   * avgTopK_bwd(c) the mean of c's k best QUERY cosines — both read off
   * the same query×candidate score matrix. Per query the single best
   * candidate is emitted with its ratio margin, a `mined` flag
   * (margin ≥ threshold on the 1e-6 snap grid, so the cut is
   * engine-exact) and a `mutual` flag (this query is also its candidate's
   * best query — the forward∩backward intersection the paper reports as
   * the highest-precision mining mode).
   *
   * Scale shape: one broadcast-queries × candidate scan builds the score
   * matrix ([[topK]]'s plan, FloatDot codegen'd); the two row_number/avg
   * windows partition by query_id (|C| rows per group) and by vec_id
   * (|Q| rows per group) — no group ever exceeds the broadcast query
   * count or the candidate count, and nothing quadratic in |C| alone
   * materializes. At full scale swap the score-matrix stage through the
   * IVF route ([[ivfKMeansTopK]]) and feed the surviving candidate lists
   * here; exact mining is the calibration path.
   */
  def marginMine(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, threshold: Double): DataFrame = {
    val cand = withNorms(candidates, idCol, vecCol)
    val q = withNorms(queries, idCol, vecCol)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("emb", "qemb")
      .withColumnRenamed("nrm", "qnrm")
    val scored = cand.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (expr(dotSql("qemb", "emb")) / (col("qnrm") * col("nrm"))).as("c"))
      .select(col("query_id"), col("vec_id"), snap("c").as("cosine"))
    val wf = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    val wb = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("query_id").asc)
    val ranked = scored
      .withColumn("rf", row_number().over(wf))
      .withColumn("rb", row_number().over(wb))
    val fwd = ranked.where(col("rf") <= k)
      .groupBy("query_id").agg(avg("cosine").as("favg"))
    val bwd = ranked.where(col("rb") <= k)
      .groupBy("vec_id").agg(avg("cosine").as("bavg"))
    val margin = snapCol(col("cosine") * lit(2.0) / (col("favg") + col("bavg")))
    ranked.where(col("rf") === 1)
      .join(fwd, "query_id").join(bwd, "vec_id")
      .select(col("query_id"), col("vec_id").as("cand_id"), col("cosine"),
        margin.as("margin"),
        (margin >= lit(threshold)).as("mined"),
        (col("rb") === 1).as("mutual"))
  }

  /**
   * Maximal-marginal-relevance top-k (Carbonell & Goldstein 1998) — the
   * diversity-aware re-rank between retrieval and use: from each query's
   * relevance top-`poolSize` pool, greedily select `k` results maximizing
   * `lambda·rel(d,q) − (1−lambda)·max_{s∈selected} sim(d,s)`, so near-
   * duplicate hits don't crowd the result list (RAG context assembly,
   * eval-set construction, dedup-aware search).
   *
   * Scale shape: the pool step is [[topK]]'s broadcast-queries ×
   * candidate scan — the only corpus-sized stage. Everything after is
   * RESULT-sized: the pool (Q·poolSize rows, checkpointed once) drives
   * `k − 1` greedy rounds of one equi-join on query_id (pool ×
   * selected-so-far, ≤ Q·poolSize·k rows), a max-aggregate, and a
   * per-query argmax window — each round checkpointed so the loop's plan
   * does not compound. The greedy argmax is inherently sequential in k
   * (same contract as [[kCenterSample]]); k is a result knob, not a data
   * knob. All scores snap to the 1e-6 grid BEFORE every argmax, so the
   * selection order is engine-reproducible (ties break on vec_id).
   */
  def mmrTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, poolSize: Int = 20,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && poolSize >= k, "need k >= 1 and poolSize >= k")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must sit in [0, 1]")
    val cand = withNorms(candidates, idCol, vecCol)
    val pool = topK(candidates, queries, idCol, vecCol, poolSize)
      .select(col("query_id"), col("vec_id"), col("cosine").as("rel"))
      .join(cand, "vec_id")
      .select(col("query_id"), col("vec_id"), col("rel"),
        col("emb"), col("nrm"))
      .localCheckpoint()
    def argmax(df: DataFrame, score: Column, rank: Int): DataFrame = {
      val w = Window.partitionBy("query_id")
        .orderBy(col("mmr").desc, col("vec_id").asc)
      df.withColumn("mmr", score)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("query_id"), lit(rank.toLong).as("rank"), col("vec_id"),
          col("rel"), col("mmr"), col("emb"), col("nrm"))
    }
    var all = argmax(pool, snapCol(lit(lambda) * col("rel")), 1)
      .localCheckpoint()
    var latest = all
    for (r <- 2 to k) {
      val sel = all.select(col("query_id"), col("vec_id").as("svid"),
        col("emb").as("semb"), col("nrm").as("snrm"))
      val remaining = pool.join(
        all.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"),
        "left_anti")
      val ms = remaining.join(sel, "query_id")
        .select(col("query_id"), col("vec_id"),
          snapCol(expr(dotSql("emb", "semb")) /
            (col("nrm") * col("snrm"))).as("sim"))
        .groupBy("query_id", "vec_id")
        .agg(max(col("sim")).as("ms"))
      latest = argmax(remaining.join(ms, Seq("query_id", "vec_id")),
        snapCol(lit(lambda) * col("rel") - lit(1.0 - lambda) * col("ms")), r)
        .localCheckpoint()
      all = all.union(latest)
    }
    all.select("query_id", "rank", "vec_id", "rel", "mmr")
  }

  /**
   * IVF-style top-k: vectors are bucketed by a coarse quantizer — the
   * 1-based index of the maximum component (comparison-only, so exact in
   * every engine; a trained k-means codebook slots in the same way) — and
   * each query searches only its own bucket's candidates.
   */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    def bucketOf(c: String) = expr(s"array_position($c, array_max($c))")
    val cand = withNorms(candidates, idCol, vecCol)
      .withColumn("bucket", bucketOf("emb"))
    val q = withNorms(queries, idCol, vecCol)
      .withColumn("bucket", bucketOf("emb"))
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("emb", "qemb")
      .withColumnRenamed("nrm", "qnrm")
    val scored = cand.join(broadcast(q), Seq("bucket"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (expr(dotSql("qemb", "emb")) / (col("qnrm") * col("nrm"))).as("c"))
      .select(col("query_id"), col("vec_id"), snap("c").as("cosine"))
    rank(scored, k)
  }

  /** DEFAULT number of random hyperplanes for [[lshTopK]] (2^6 = 64
    * buckets) — the contract setting. AT SCALE size it with the corpus:
    * bucket count 2^planes must track the vector count
    * (`planes ≈ log₂(N/occupancy)`), or the in-bucket candidate surface
    * grows ~N²/2^planes — the exact failure the sfx1 spot-bench measured
    * on the sparse twin ([[graft.ext.SparseAnn]], bench_sf1.json). */
  val LshPlanes = 6

  /**
   * Deterministic pseudo-random hyperplanes: small integer components in
   * [-6, 6] from a fixed multiplicative formula. Small integers keep the
   * projections' magnitude ~O(10), so the sign test is numerically far
   * from zero and reproducible in any engine; the same (k, i, h) triples
   * are interpolated into the DuckDB oracle as a literal VALUES table.
   * The formula extends to any plane count (no multiplier table to
   * outgrow) — `planes` scales the bucket id's bit width.
   */
  def lshPlaneRows(dim: Int, planes: Int = LshPlanes): Seq[(Int, Int, Int)] =
    for { k <- 0 until planes; i <- 0 until dim }
      yield (k, i, ((1315423911L * (k * dim + i + 1)) % 13 - 6).toInt)

  /**
   * Random-hyperplane LSH bucket per vector: bit k of the bucket id is the
   * sign of the projection onto hyperplane k. Vectors within ~one cone of
   * each other collide; complements [[ivfTopK]] as the prompt-level "LSH
   * bucketed" scale path (both cut the candidate set by ~the bucket count).
   */
  def lshBuckets(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      planes: Int = LshPlanes): DataFrame = {
    require(planes >= 1 && planes <= 62, "planes must be in [1, 62]")
    val spark = emb.sparkSession
    import spark.implicits._
    val hp = lshPlaneRows(dim, planes).toDF("k", "i", "h")
    val u = emb.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("i", "e")))
      .withColumn("e", col("e").cast("double"))
    u.join(broadcast(hp), "i")
      .groupBy("vec_id", "k")
      .agg(sum(col("h") * col("e")).as("proj"))
      .groupBy("vec_id")
      .agg(sum(expr(
        "CASE WHEN proj > 0 THEN shiftleft(CAST(1 AS BIGINT), k) ELSE CAST(0 AS BIGINT) END"))
        .cast("long").as("bucket"))
  }

  /**
   * Top-k within random-hyperplane LSH buckets (cf. [[ivfTopK]]).
   *
   * Recall caveat, measured on the synthetic corpus: with weakly
   * correlated vectors (best cosines ≈ 0.37, i.e. angle ≈ 68°), the
   * probability a true neighbor shares all 6 sign bits is
   * (1 - θ/π)⁶ ≈ 0.06 — recall@5 vs brute force ≈ 0.08. Single-probe
   * sign-LSH only pays off when near-duplicates exist (θ → 0, as in
   * [[graft.ext.Dedup.embeddingDups]]'s regime); for mid-similarity
   * search, use [[topK]]/[[ivfTopK]] or extend this with multi-probe
   * (also query the buckets at hamming distance 1).
   */
  def lshTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, planes: Int = LshPlanes): DataFrame = {
    val cb = lshBuckets(candidates, idCol, vecCol, dim, planes)
    val qb = lshBuckets(queries, idCol, vecCol, dim, planes)
      .withColumnRenamed("vec_id", "query_id")
    val cand = withNorms(candidates, idCol, vecCol).join(cb, "vec_id")
    val q = withNorms(queries, idCol, vecCol)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("emb", "qemb")
      .withColumnRenamed("nrm", "qnrm")
      .join(qb, "query_id")
    val scored = cand.join(broadcast(q), Seq("bucket"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (expr(dotSql("qemb", "emb")) / (col("qnrm") * col("nrm"))).as("c"))
      .select(col("query_id"), col("vec_id"), snap("c").as("cosine"))
    rank(scored, k)
  }

  /**
   * Multi-probe sign-LSH top-k: each query probes its own bucket AND every
   * bucket at Hamming distance 1 (one sign bit flipped) — `LshPlanes + 1`
   * probes. With per-bit collision probability p = 1 - θ/π, recall rises
   * from p⁶ to p⁶ + 6·p⁵(1-p) (measured on the synthetic corpus:
   * recall@5 0.08 → ~0.3) while still scanning only ~7/64ths of the
   * candidate set. A candidate lives in exactly one bucket, so it can
   * match at most one probe — no duplicate (query, candidate) pairs and
   * no post-join dedup.
   *
   * Scale shape: identical to [[lshTopK]] — one equi-join on the bucket —
   * with the query side replicated ×(LshPlanes+1) BEFORE the join, which
   * is the cheap side by construction.
   */
  def lshTopKMultiProbe(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, planes: Int = LshPlanes): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // probe masks as an exploded literal array (not a crossJoin, which
    // plans a BroadcastNestedLoopJoin node even for a 7-row literal)
    val maskArr = array((0L +: (0 until planes).map(j => 1L << j)).map(lit): _*)
    val cb = lshBuckets(candidates, idCol, vecCol, dim, planes)
    val qb = lshBuckets(queries, idCol, vecCol, dim, planes)
      .withColumnRenamed("vec_id", "query_id")
      .select($"query_id", $"bucket", explode(maskArr).as("mask"))
      .select($"query_id", expr("bucket ^ mask").as("bucket"))
    val cand = withNorms(candidates, idCol, vecCol).join(cb, "vec_id")
    val q = withNorms(queries, idCol, vecCol)
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("emb", "qemb")
      .withColumnRenamed("nrm", "qnrm")
      .join(qb, "query_id")
    val scored = cand.join(broadcast(q), Seq("bucket"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (expr(dotSql("qemb", "emb")) / (col("qnrm") * col("nrm"))).as("c"))
      .select(col("query_id"), col("vec_id"), snap("c").as("cosine"))
    rank(scored, k)
  }

  /** Probe masks for bucket differences up to `maxHamming` sign bits:
    * every `planes`-bit value with ≤ maxHamming bits set. A candidate
    * pair at bucket-Hamming d matches exactly ONE mask (= the XOR of
    * the two buckets), so deeper probing never duplicates a pair. */
  def lshProbeMasks(planes: Int, maxHamming: Int): Seq[Long] = {
    require(planes >= 1 && planes <= 62, "planes must be in [1, 62]")
    require(maxHamming >= 0 && maxHamming <= planes)
    // combinatorial generation (choose <= maxHamming of `planes` bit
    // positions): O(C(planes, maxHamming)) for ANY plane count, where a
    // filter over 0..2^planes is infeasible past ~30 planes and silently
    // wraps past 62
    def choose(start: Int, left: Int): Seq[Long] =
      if (left == 0) Seq(0L)
      else (start until planes).flatMap(b => choose(b + 1, left - 1).map(_ | (1L << b)))
    (0 to maxHamming).flatMap(h => choose(0, h)).sorted
  }

  /**
   * Candidate pairs whose sign-LSH buckets are within Hamming distance ≤ 1
   * (same bucket or one sign bit apart), as (v0 < v1) id pairs. One side is
   * replicated across the `LshPlanes + 1` probe masks BEFORE the equi-join;
   * a pair's buckets differ by exactly one XOR value, so at most one mask
   * matches and the output needs no dedup. Rows are (id, bucket) only —
   * the replication never touches the vectors themselves.
   */
  def lshNearPairs(buckets: DataFrame, planes: Int = LshPlanes,
      maxHamming: Int = 1): DataFrame = {
    val maskArr = array(lshProbeMasks(planes, maxHamming).map(lit): _*)
    val probed = buckets
      .select(col("vec_id"), explode(maskArr).as("mask"),
        col("bucket"))
      .select(col("vec_id"), expr("bucket ^ mask").as("bucket"))
    probed.as("a").join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v0"), col("b.vec_id").as("v1"))
  }

  /**
   * Cosine for every sign-LSH candidate pair ([[lshNearPairs]]): the
   * scale-safe near-duplicate kernel. Candidate generation equi-joins tiny
   * (id, bucket) rows; vectors are joined back BY ID only for the pairs
   * that survive bucketing, so the quadratic all-pairs surface is never
   * touched. Recall follows the sign-LSH cone analysis on [[lshTopK]]:
   * ≈ 1 in the near-duplicate regime (θ → 0) this kernel exists for.
   */
  def lshNearPairsCosine(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, planes: Int = LshPlanes, maxHamming: Int = 1): DataFrame = {
    val n = withNorms(emb, idCol, vecCol)
    val cands = lshNearPairs(lshBuckets(emb, idCol, vecCol, dim, planes),
      planes, maxHamming)
    cands
      .join(n.select(col("vec_id").as("v0"), col("emb").as("e0"), col("nrm").as("n0")), "v0")
      .join(n.select(col("vec_id").as("v1"), col("emb").as("e1"), col("nrm").as("n1")), "v1")
      .select(col("v0"), col("v1"),
        snapCol(expr(dotSql("e0", "e1")) / (col("n0") * col("n1"))).as("cosine"))
  }

  /** (vec_id, i, x): one double-cast coordinate row per vector component. */
  private def cellsOf(emb: DataFrame, idCol: String, vecCol: String) =
    emb.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("i", "e")))
      .select(col("vec_id"), col("i"), col("e").cast("double").as("x"))

  /**
   * The k-means family's one distance aggregate: `cells` (keys, i, x)
   * joined to the broadcast centroid table `cent` (…, i, c) on
   * `joinKeys`, reduced map-side to d2 = Σ(x − c)² per `keys` group.
   * d2 snaps to the 1e-6 grid unless `snapped = false` (the seeding
   * draws read raw d²).
   *
   * Ids are keys. Rows that share an id are read as ONE vector holding
   * all of their cells, here and in every other per-vector sum of the
   * family (dot, norm, member mean): its d² adds every row's terms.
   * Answers keyed by id report such an id once; answers that return the
   * input rows ([[prototypeAssign]], the seeders) repeat it per row.
   * Under the default id seeding such an id, when among the k smallest,
   * takes one seed slot per row. Different vectors need different ids.
   * The family does not reject a repeated id: a cell-count check riding
   * this aggregate made the nearest-prototype plan 15–30% slower at
   * sf0.1 (4-core VM, local[4]).
   */
  private def centroidD2(cells: DataFrame, cent: DataFrame, keys: Seq[String],
      joinKeys: Seq[String] = Seq("i"), snapped: Boolean = true): DataFrame = {
    val d2 = sum((col("x") - col("c")) * (col("x") - col("c")))
    cells.join(broadcast(cent), joinKeys)
      .groupBy(keys.map(col): _*)
      .agg((if (snapped) snapCol(d2) else d2).as("d2"))
  }

  /**
   * The family's one top-n window: per `keys` group of a score table,
   * the `n` rows ranked first by `by` (default d2 ascending; spherical
   * ranks its dot descending), ties to the smaller `tie` id, as rn 1…n.
   */
  private def nearest(dist: DataFrame, keys: Seq[String], n: Int,
      by: Column = col("d2").asc, tie: String = "cid"): DataFrame =
    dist.withColumn("rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(by, col(tie).asc)))
      .where(col("rn") <= n)

  /** The `k` smallest ids of `ids` (vec_id) as seed rows (vec_id, cid =
    * rank − 1). The rank runs over exactly k rows, deliberately in one
    * partition. Its key is a column-derived constant: a literal would be
    * constant-folded out of the spec and WindowExec would warn "No
    * Partition Defined" on every run. */
  private def idSeeds(ids: DataFrame, k: Int): DataFrame =
    ids.orderBy("vec_id").limit(k).select(col("vec_id"), (row_number().over(
      Window.partitionBy(col("vec_id") * lit(0)).orderBy("vec_id")) - 1)
      .cast("long").as("cid"))

  private def requireFit(k: Int, iters: Int): Unit = {
    require(k > 0, s"k must be positive (k=$k)")
    require(iters >= 1, s"iters must be at least 1 (iters=$iters)")
  }

  /** A fitted Lloyd run: `cent` is the codebook the last round scored
    * against, `dist` that round's full score table and `assign` its best
    * centroid per key group; `next` is the update `assign` trains — the
    * fitted codebook. */
  private final class LloydFit(val cent: DataFrame, val dist: DataFrame,
      val assign: DataFrame, update: DataFrame => DataFrame) {
    def next: DataFrame = update(assign)
  }

  /** Lloyd's centroid update: the snapped member mean per (cid, i). */
  private val meanUpdate: RelationalGroupedDataset => DataFrame =
    _.agg(snapCol(avg(col("x"))).as("c"))

  /**
   * The family's one Lloyd loop: `iters` rounds over `cells` (keys, i, x)
   * from the `seeds` (vec_id, cid) rows. Each round scores every key
   * group against the broadcast codebook (`score`: one row per group and
   * cid), keeps the group's best cid ([[nearest]] by `best`, ties by
   * cid), and trains the next codebook from the members' cells grouped
   * by (cid, i) (`update`). One lazy plan: no action runs. A cid that
   * loses every member drops out of the next round.
   */
  private def lloyd(cells: DataFrame, keys: Seq[String], seeds: DataFrame,
      iters: Int, score: DataFrame => DataFrame, best: Column,
      update: RelationalGroupedDataset => DataFrame): LloydFit = {
    def assigned(dist: DataFrame) = nearest(dist, keys, 1, best)
    def train(assign: DataFrame) =
      update(cells.join(assign.select((keys :+ "cid").map(col): _*), keys)
        .groupBy("cid", "i"))
    var cent = cells.join(seeds, "vec_id")
      .select(col("cid"), col("i"), col("x").as("c"))
    var dist = score(cent)
    for (_ <- 2 to iters) {
      cent = train(assigned(dist))
      dist = score(cent)
    }
    new LloydFit(cent, dist, assigned(dist), train)
  }

  /**
   * Fixed-iteration distributed k-means (Lloyd) over an embedding column —
   * the training step behind a real IVF index ([[ivfTopK]]'s argmax
   * quantizer is the untrained stand-in) and the standard
   * diversity-sampling / corpus-clustering primitive for training-data
   * pipelines. Returns each vector's final cluster id and (1e-6-snapped)
   * squared distance to its centroid.
   *
   * Fully declarative — the whole `iters`-round computation is ONE lazy
   * plan (no driver actions, no collects): seeds are the `k` smallest ids
   * (rank = cluster id; `seeding = "kmeans++"` swaps in the eager
   * [[kMeansPlusPlusSeeds]] draw for spread-out, quality-seeking seeds —
   * the Lloyd rounds stay one lazy plan either way), each assignment
   * round joins the coordinate table
   * to the broadcast centroid table (k·dim rows) and reduces map-side to
   * one partial sum per (vector, cluster); centroid updates are a k·dim
   * aggregate. Per round the shuffle carries O(N·k) aggregated rows —
   * Lloyd's standard distributed shape.
   *
   * Cross-engine determinism: squared distances and updated centroid
   * components are snapped to the 1e-6 grid each round, and argmin breaks
   * ties by cluster id — so assignment is a total order on identical
   * values in every engine (see the oracle-parity notes on [[graft.entry
   * .EntryUtil.gate]]). A cluster that loses all members simply drops out
   * of the next round's centroid table (deterministic on both sides).
   * An id on several rows is one vector holding all their cells (see
   * [[centroidD2]]).
   */
  def kMeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, seeding: String = "id"): DataFrame =
    kMeansFit(emb, idCol, vecCol, k, iters, seeding).assign
      .select(col("vec_id"), col("cid").as("cluster"), col("d2").as("dist2"))

  /** The [[kMeansAssign]] fit. Its final (vec_id, cid, d2) table's argmin
    * is kMeansAssign's answer, its runner-up row is what [[silhouette]]
    * needs, and its `next` update is the [[kMeansCentroids]] codebook. */
  private def kMeansFit(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, seeding: String): LloydFit = {
    requireFit(k, iters)
    require(seeding == "id" || seeding == "kmeans++" || seeding == "kmeans||",
      s"unknown seeding: $seeding")
    val cells = cellsOf(emb, idCol, vecCol)
    val seeds = seeding match {
      case "kmeans++" => kMeansPlusPlusSeeds(emb, idCol, vecCol, k)
      case "kmeans||" => kMeansParallelSeeds(emb, idCol, vecCol, k)
      case _ => idSeeds(emb.select(col(idCol).as("vec_id")), k)
    }
    lloyd(cells, Seq("vec_id"), seeds, iters,
      centroidD2(cells, _, Seq("vec_id", "cid")), col("d2").asc, meanUpdate)
  }

  /**
   * Per-cluster simplified (centroid) silhouette of the same fixed-round
   * Lloyd fit [[kMeansAssign]] runs — the standard "did k make sense"
   * readout: per vector, `a` = distance to its own centroid and `b` =
   * distance to the nearest OTHER centroid, s = (b − a)/max(a, b); one
   * row per surviving cluster with its member count and mean s. The
   * centroid form (Hruschka et al.'s simplified silhouette) is the one
   * that scales — the classic pairwise silhouette is Θ(N²) by
   * definition; against k centroids both distances already exist in the
   * assignment round's distance table, so the readout is FREE beyond
   * the fit itself.
   *
   * Determinism: a and b come from the same per-round-snapped d2 table
   * kMeansAssign ranks (argmin/runner-up tie-break by cid), sqrt and the
   * ratio are correctly-rounded fixed-order IEEE ops, and the per-cluster
   * mean's sum-order noise sits inside the gate snap. A vector on its
   * centroid with max(a,b) = 0, or left with NO other cluster (k
   * collapsed to 1), scores s = 0 rather than NULL/NaN.
   *
   * Scale shape: [[kMeansAssign]]'s exact plan (the O(N·k) aggregated
   * distance shuffle) + one rn ≤ 2 window keyed by vector, one
   * vector-keyed pivot aggregate, one k-row cluster aggregate.
   */
  def silhouette(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, seeding: String = "id"): DataFrame = {
    require(k >= 2, s"k must be at least 2 for a silhouette (k=$k)")
    val ab = nearest(kMeansFit(emb, idCol, vecCol, k, iters, seeding).dist,
        Seq("vec_id"), 2)
      .groupBy("vec_id")
      .agg(min(when(col("rn") === 1, col("cid"))).as("cluster"),
        min(when(col("rn") === 1, col("d2"))).as("a2"),
        min(when(col("rn") === 2, col("d2"))).as("b2"))
    val a = sqrt(col("a2"))
    val b = sqrt(col("b2"))
    val s = when(col("b2").isNull, lit(0.0))
      .when(greatest(a, b) > 0, (b - a) / greatest(a, b))
      .otherwise(lit(0.0))
    ab.select(col("cluster"), s.as("s"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"), avg(col("s")).as("mean_silhouette"))
  }

  /**
   * Spherical k-means (Dhillon & Modha 2001) — Lloyd on the unit sphere:
   * vectors and centroids are L2-normalized, assignment is argMAX cosine
   * (= dot of unit vectors), and the centroid update is the re-normalized
   * mean direction. This is the clustering embedding practice actually
   * wants: semantic similarity is cosine, and Euclidean Lloyd
   * ([[kMeansAssign]]) lets vector MAGNITUDE (document length, token
   * count artifacts) pull centroids off the direction manifold. Returns
   * each vector's final cluster and its cosine to the centroid.
   * Zero-norm vectors have no direction and are dropped.
   *
   * Determinism: unit components are exact divisions of deterministic
   * values; per-round dots snap to the 1e-6 grid and argmax ties break
   * by cid (the [[kMeansAssign]] convention, max instead of min);
   * updated centroid components snap AFTER re-normalization. A cluster
   * whose mean direction is exactly zero (theoretical antipodal
   * collapse) drops out of the next round, like an emptied Lloyd
   * cluster.
   *
   * Scale shape: identical to [[kMeansAssign]] — broadcast k·dim
   * centroid table, one O(N·k) aggregated-dot shuffle per round, k·dim
   * centroid update; the extra normalization is a k-row aggregate.
   */
  def sphericalKMeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    requireFit(k, iters)
    val cells0 = cellsOf(emb, idCol, vecCol)
    val nrm = cells0.groupBy("vec_id").agg(sqrt(sum(col("x") * col("x"))).as("nrm"))
      .where(col("nrm") > 0)
    val cells = cells0.join(nrm, "vec_id")
      .select(col("vec_id"), col("i"), (col("x") / col("nrm")).as("x"))
    def dots(cent: DataFrame) = cells.join(broadcast(cent), "i")
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum(col("x") * col("c")).as("d0"))
      .select(col("vec_id"), col("cid"), snapCol(col("d0")).as("d"))
    def direction(members: RelationalGroupedDataset) = {
      val m = members.agg(avg(col("x")).as("m"))
      val cn = m.groupBy("cid").agg(sqrt(sum(col("m") * col("m"))).as("cn"))
        .where(col("cn") > 0)
      m.join(cn, "cid")
        .select(col("cid"), col("i"), snapCol(col("m") / col("cn")).as("c"))
    }
    lloyd(cells, Seq("vec_id"), idSeeds(nrm.select(col("vec_id")), k), iters,
        dots, col("d").desc, direction)
      .assign.select(col("vec_id"), col("cid").as("cluster"), col("d").as("cosine"))
  }

  /** The centroid table (sid, i, c) of the driver-held `seeds` (vec_id). */
  private def seedCells(cells: DataFrame, seeds: DataFrame): DataFrame =
    cells.join(broadcast(seeds), "vec_id")
      .select(col("vec_id").as("sid"), col("i"), col("x").as("c"))

  /**
   * Deterministic k-means++-style seeding: seed 0 is the vector with the
   * smallest content hash of its id; each later seed is drawn with
   * probability ∝ d² to the nearest already-chosen seed — the classic
   * k-means++ rule — using A-Res weighted sampling with `u` derived from
   * `xxhash64(vec_id, round)` instead of an RNG, so the draw is a pure
   * function of the data: rerun-stable, cluster-size-independent, no
   * `rand()` anywhere. The A-Res key is `ln(u)/d²` (pick the max) — it
   * orders identically to the textbook `u^(1/d²)` (ln is monotone) but
   * never underflows: `pow(u, 1/w)` collapses to 0.0 for the small w of
   * normalized embeddings, which silently degraded the draw to a
   * smallest-id tie-break. If fewer than k vectors exist, the draw
   * degrades gracefully to fewer seeds, like the "id" default; once
   * every remaining vector duplicates a seed, the draws fall to the
   * smallest remaining ids.
   *
   * Eager fit-style step (like [[ivfKMeansTopK]]'s codebook collect):
   * k − 1 driver rounds, each one distributed d²-scan plus a top-1
   * collect of a single id — model-sized driver traffic, never data.
   * The O(k) full passes make this the right tool for SMALL k only; for
   * large codebooks (IVF with thousands of lists) use
   * [[kMeansParallelSeeds]], which reaches the same seed quality in a
   * fixed number of rounds.
   * Spread-out seeds cut Lloyd's final distortion and iteration count
   * vs the id-ordered default, which can plant every seed inside one
   * natural cluster when small ids cluster together. Returns (vec_id,
   * cid) seed rows; [[kMeansAssign]] uses it via `seeding = "kmeans++"`.
   */
  def kMeansPlusPlusSeeds(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive (k=$k)")
    val ids = emb.select(col(idCol).as("vec_id"))
    val cells = cellsOf(emb, idCol, vecCol)
    val first = ids.orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(1).collect().headOption
    if (first.isEmpty) return ids.limit(0).withColumn("cid", lit(0L))
    var chosen = Vector[Any](first.get.get(0))
    // chosen ids as a broadcast-joined frame, NOT a growing isin literal
    // list: each isin(chosen…) re-planned an O(|chosen|) expression per
    // round — O(k²) analysis state across the loop; a model-sized local
    // frame keeps planning O(k)
    def chosenDf(): DataFrame = seedIdFrame(emb.sparkSession, chosen, ids)
    var round = 1
    var exhausted = false
    while (round < k && !exhausted) {
      val d2min = centroidD2(cells, seedCells(cells, chosenDf()),
          Seq("vec_id", "sid"), snapped = false)
        .groupBy("vec_id").agg(min(col("d2")).as("w"))
      // u in (0, 1), a pure function of (vec_id, round); ln(u)/w < 0
      // always, so a w = 0 row (exact duplicate of a seed, key -inf) can
      // never win unless every weight is zero
      val u = (pmod(xxhash64(col("vec_id"), lit(round)), lit(1000000007L))
        .cast("double") + 1.0) / 1000000008.0
      val key = when(col("w") <= 0, lit(Double.NegativeInfinity))
        .otherwise(log(u) / col("w"))
      val next = d2min
        .join(broadcast(chosenDf()), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), key.as("key"))
        .orderBy(col("key").desc, col("vec_id").asc)
        .limit(1).collect().headOption
      next match {
        case Some(r) => chosen = chosen :+ r.get(0)
        case None => exhausted = true // k exceeds the vector count
      }
      round += 1
    }
    picked(ids, chosen).select(col("vec_id"),
      caseById(chosen, chosen.indices.map(_.toLong)).as("cid"))
  }

  /**
   * Greedy k-center / farthest-point diversity sample (Gonzalez 1985) —
   * coreset selection for data curation: pick the point FARTHEST from
   * everything picked so far, k times. The classic 2-approximation to
   * the k-center cover, and the standard "maximally diverse subset"
   * selector for seeding annotation batches or balancing a fine-tuning
   * set. Output: the k picks with their selection rank and the snapped
   * min-squared-distance that won them the pick (0 for the seed).
   *
   * Determinism: the seed is the minimum id; each round snaps every
   * candidate's min-squared-distance to the 1e-6 grid BEFORE the argmax
   * and breaks ties on the smaller id — so the pick sequence is a
   * function of values any engine agrees on, and an unrolled SQL chain
   * reproduces it exactly (the contract oracle does).
   *
   * Scale shape: k − 1 rounds, each ONE distributed pass — the newest
   * center broadcasts as a 1-row (dim-cells) frame, each point updates
   * its running min distance against ONLY that center (min is
   * associative — older centers are already folded in), and the argmax
   * is a TakeOrdered(1). Driver state is the k picks (model-sized eager
   * fit, same sanction as [[kMeansPlusPlusSeeds]]); `localCheckpoint`
   * truncates the per-round lineage so round r plans O(1), not O(r).
   */
  def kCenterSample(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive (k=$k)")
    val spark = emb.sparkSession
    val ids = emb.select(col(idCol).as("vec_id"))
    val cells = cellsOf(emb, idCol, vecCol)
    def d2To(id: Any): DataFrame = centroidD2(cells,
      seedCells(cells, seedIdFrame(spark, Seq(id), ids)), Seq("vec_id"),
      snapped = false)
    val firstOpt = ids.orderBy(col("vec_id").asc).limit(1).collect().headOption
    if (firstOpt.isEmpty)
      return ids.limit(0)
        .withColumn("rank", lit(0L)).withColumn("d2", lit(0.0))
    val first = firstOpt.get.get(0)
    var chosen = Vector[(Any, Double)]((first, 0.0))
    // deferred: localCheckpoint is EAGER, and k = 1 never reads it
    var minD2: DataFrame = null
    var exhausted = false
    while (chosen.length < k && !exhausted) {
      if (minD2 == null) minD2 = d2To(first).localCheckpoint()
      val chosenIds = seedIdFrame(spark, chosen.map(_._1), ids)
      val next = minD2.join(broadcast(chosenIds), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), snapCol(col("d2")).as("d2s"))
        .orderBy(col("d2s").desc, col("vec_id").asc)
        .limit(1).collect().headOption
      next match {
        case Some(r) =>
          chosen = chosen :+ (r.get(0) -> r.getDouble(1))
          if (chosen.length < k)
            // fold the new center into the running min — unsnapped, so
            // later rounds compare true distances (only picks snap)
            minD2 = minD2
              .join(d2To(r.get(0)).withColumnRenamed("d2", "nd2"), "vec_id")
              .select(col("vec_id"), least(col("d2"), col("nd2")).as("d2"))
              .localCheckpoint()
        case None => exhausted = true // k exceeds the point count
      }
    }
    val picks = chosen.map(_._1)
    picked(ids, picks).select(col("vec_id"),
      caseById(picks, chosen.indices.map(_.toLong)).as("rank"),
      caseById(picks, chosen.map(_._2)).as("d2"))
  }

  /** Driver-held seed ids as a 1-column (vec_id) frame with `like`'s
    * schema — the broadcast-join replacement for growing isin lists. */
  private def seedIdFrame(spark: SparkSession, seedIds: Seq[Any],
      like: DataFrame): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        seedIds.map(org.apache.spark.sql.Row(_)), numSlices = 1),
      like.schema)

  /** The rows of `ids` (vec_id) whose id is one of the driver-held picks. */
  private def picked(ids: DataFrame, picks: Seq[Any]): DataFrame =
    ids.join(broadcast(seedIdFrame(ids.sparkSession, picks, ids)),
      Seq("vec_id"), "left_semi")

  /** CASE vec_id WHEN ids(0) THEN values(0) … END over driver-held
    * values; reduceRight so each `otherwise` lands on a fresh un-elsed
    * `when`. */
  private def caseById(ids: Seq[Any], values: Seq[Any]): Column =
    ids.zip(values)
      .map { case (id, v) => when(col("vec_id") === lit(id), lit(v)) }
      .reduceRight[Column](_.otherwise(_))

  /**
   * k-means‖ seeding (Bahmani et al., "Scalable k-means++", VLDB 2012) —
   * the large-k replacement for [[kMeansPlusPlusSeeds]]'s k − 1
   * sequential full scans: a FIXED number of `rounds` (default 5), each
   * sampling every point independently with probability
   * min(1, oversample · d²/Σd²) against the current candidate set, so
   * one round admits ~`oversample` (default 2k) new candidates at once.
   * The model-sized candidate set (≤ rounds·oversample ids) is then
   * weighted by how many points it attracts (one more distributed pass)
   * and recondensed to exactly k seeds by WEIGHTED k-means++ on the
   * driver — O(k·|candidates|·dim) scalar work on a model-sized table,
   * the same eager-fit shape as [[ivfKMeansTopK]]'s codebook collect.
   *
   * Deterministic like everything in this family: the per-round sampling
   * uses u = f(xxhash64(vec_id, round)); the driver-side recondense uses
   * the same A-Res ln(u)/w rule with a murmur3-derived u — both pure
   * functions of the data. Degrades to fewer seeds when fewer than k
   * distinct vectors exist. Returns (vec_id, cid) seed rows;
   * [[kMeansAssign]] uses it via `seeding = "kmeans||"`.
   */
  def kMeansParallelSeeds(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int = 5, oversample: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive (k=$k)")
    require(rounds >= 1, s"rounds must be at least 1 (rounds=$rounds)")
    val l = if (oversample > 0) oversample else 2 * k
    val ids = emb.select(col(idCol).as("vec_id"))
    val cells = cellsOf(emb, idCol, vecCol)
    val first = ids.orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(1).collect().headOption
    if (first.isEmpty) return ids.limit(0).withColumn("cid", lit(0L))
    var cand = Vector[Any](first.get.get(0))
    // same growing-literal fix as kMeansPlusPlusSeeds: candidates reach
    // rounds·oversample ids, far past sane isin-expression size
    def d2minTo(seedIds: Seq[Any]): DataFrame = centroidD2(cells,
      seedCells(cells, seedIdFrame(emb.sparkSession, seedIds, ids)),
      Seq("vec_id", "sid"), snapped = false)
    var round = 1
    var saturated = false
    while (round <= rounds && !saturated) {
      val d2min = d2minTo(cand).groupBy("vec_id").agg(min(col("d2")).as("w"))
      val phi = d2min.agg(coalesce(sum(col("w")), lit(0.0))).head().getDouble(0)
      if (phi <= 0) saturated = true // every point duplicates a candidate
      else {
        val u = (pmod(xxhash64(col("vec_id"), lit(round)), lit(1000000007L))
          .cast("double") + 1.0) / 1000000008.0
        val drawn = d2min
          .join(broadcast(seedIdFrame(emb.sparkSession, cand, ids)),
            Seq("vec_id"), "left_anti")
          .where(u < least(lit(1.0), col("w") * lit(l.toDouble / phi)))
          .select("vec_id").collect().map(_.get(0))
        cand = cand ++ drawn
      }
      round += 1
    }
    // weight candidates by attraction: points per nearest candidate
    val weights = nearest(d2minTo(cand), Seq("vec_id"), 1, tie = "sid")
      .groupBy("sid").agg(count(lit(1)).as("w"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val vecs = emb
      .join(broadcast(seedIdFrame(emb.sparkSession, cand, ids)
        .withColumnRenamed("vec_id", idCol)), Seq(idCol), "left_semi")
      .select(col(idCol), col(vecCol)).collect()
      .map(r => r.get(0) ->
        r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray)
      .toMap
    val chosen = localWeightedKpp(cand.distinct, vecs, weights, k)
    picked(ids, chosen).select(col("vec_id"),
      caseById(chosen, chosen.indices.map(_.toLong)).as("cid"))
  }

  /** Driver-side weighted k-means++ over the model-sized k-means‖
    * candidate set: first pick by weight-proportional A-Res, each later
    * pick by weight·d²-proportional A-Res (key ln(u)/w, max wins, ties
    * by id string) — deterministic via murmur3-derived u. */
  private def localWeightedKpp(cand: Seq[Any], vecs: Map[Any, Array[Double]],
      weights: Map[Any, Long], k: Int): Seq[Any] = {
    if (cand.size <= k) return cand
    def u(id: Any, r: Int): Double = {
      val h = scala.util.hashing.MurmurHash3.stringHash(s"$id#$r")
      ((h & 0x7fffffff).toDouble + 1.0) / (Int.MaxValue.toDouble + 2.0)
    }
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def wOf(id: Any): Double = weights.getOrElse(id, 1L).toDouble
    var chosen = Vector(
      cand.maxBy(id => (math.log(u(id, 0)) / wOf(id), id.toString)))
    val minD2 = scala.collection.mutable.Map(
      cand.filterNot(_ == chosen.head)
        .map(id => id -> d2(vecs(id), vecs(chosen.head))): _*)
    var r = 1
    while (chosen.size < k && minD2.nonEmpty) {
      val next = minD2.keysIterator.map { id =>
        val w = wOf(id) * minD2(id)
        val key = if (w <= 0) Double.NegativeInfinity else math.log(u(id, r)) / w
        (key, id.toString, id)
      }.maxBy(t => (t._1, t._2))._3
      chosen = chosen :+ next
      minD2.remove(next)
      minD2.keysIterator.toSeq.foreach { id =>
        minD2(id) = math.min(minD2(id), d2(vecs(id), vecs(next)))
      }
      r += 1
    }
    chosen
  }

  /**
   * The trained codebook: centroid coordinate rows (cid, i, c) from the
   * final [[kMeansAssign]] assignment's update — i.e. after `iters` full
   * Lloyd rounds. Centroid components are 1e-6-snapped (same grid as the
   * training rounds) so downstream distance comparisons stay
   * deterministic cross-engine.
   */
  def kMeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, seeding: String = "id"): DataFrame =
    kMeansFit(emb, idCol, vecCol, k, iters, seeding).next

  /**
   * IVF inverted-list occupancy audit: vectors per trained cluster, each
   * list's corpus share, and its load factor (n·k/N — 1.0 = perfectly
   * uniform). The skew table that prices an IVF deployment BEFORE
   * committing a 100 TB corpus to one: probe cost is the occupancy of
   * the probed lists, so a hot list (load ≫ 1) makes every query routed
   * there scan a corpus-sized fraction regardless of nprobe — the
   * companion to [[ivfParetoSweep]], which prices the nprobe knob but
   * averages over this imbalance. Output is k rows; the readout to act
   * on is max load (split hot lists / raise k / re-seed).
   *
   * Scale: the Lloyd assignment is the one data-sized stage (the
   * embed_kmeans plan); counts fold to k rows with map-side partials and
   * the totals cross back as a 1-row scalar broadcast.
   */
  def ivfListBalance(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val cnt = kMeansAssign(emb, idCol, vecCol, k, iters)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    cnt
      .crossJoin(broadcast(cnt.agg(sum("n").as("t"), count(lit(1)).as("kk"))))
      .select(col("cluster"), col("n"),
        (col("n").cast("double") / col("t").cast("double")).as("share"),
        ((col("n") * col("kk")).cast("double") / col("t").cast("double"))
          .as("load_factor"))
  }

  /**
   * ANN KERNEL ROUTER — "which near-duplicate blocking do I run on this
   * embedding corpus at 100 TB", answered from MEASURED surfaces (the
   * third family to get the [[graft.ext.Dedup.autoRoute]] /
   * [[graft.core.CosineAnalysis.autoRouteAligned]] pattern). One row:
   * the corpus's pair surface, a vector-LINEAR pair budget, and the
   * Lloyd fit's explained-variance ratio (EVR = 1 − within/total — how
   * much of the corpus's spread cluster membership explains), feeding a
   * three-rung ladder:
   *
   *  1. `uncapped_pairs ≤ budget_pairs` → `brute` — C(n,2) fits the
   *     linear budget, so the exact [[allPairsCosine]] is affordable and
   *     is always the right answer when it is. Unlike the dedup/cosine
   *     routers' shape-based first rungs, this one is inherently
   *     ABSOLUTE-size-bounded (an all-pairs surface has no df profile to
   *     stay flat): a pilot slice that routes `brute` today correctly
   *     flips to a bucketed kernel when it grows past the budget — the
   *     flip IS the router working, not instability.
   *  2. snapped EVR ≥ 0.5 → `ivf` — the fit separates the corpus, so
   *     nearest-centroid inverted lists put near-duplicates in the same
   *     list and within-list pairs bound candidates at Σ_l C(n_l, 2)
   *     with balanced modes (multi-mode corpora: the [[ivfListBalance]]
   *     regime IVF deployments want).
   *  3. else → `lsh_banded` — an isotropic blob (the measured organic
   *     embeddings fixture: label-EVR 3e-4) defeats Voronoi blocking:
   *     neighbors straddle every cell boundary, so list membership
   *     carries no similarity signal. Sign-LSH banding
   *     ([[lshNearPairsCosine]]) bounds candidates by bucket geometry
   *     independent of mode structure — the minhash_banded analogue.
   *
   * Decision inputs are one COUNT, one Lloyd fit (the [[kMeansAssign]]
   * plan — O(N·k) aggregated rows, the corpus's one data-sized pass),
   * and one per-dim moment aggregate; everything else is row arithmetic
   * on a 1-row frame. EVR and the pair counts are snapped/integral so
   * the DuckDB oracle replays the ladder verbatim. The budget is
   * vector-linear (`budgetPerVec`·n): affordable work is O(N) at any
   * scale, so rungs 2–3 are scale-stable for a same-SHAPED corpus.
   *
   * Works on `array<float>` and `array<double>` vector columns alike
   * (the decision path never calls [[dotSql float_dot]]).
   */
  def annRoute(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, budgetPerVec: Long): DataFrame = {
    require(budgetPerVec > 0, s"budgetPerVec must be positive (budgetPerVec=$budgetPerVec)")
    val within = kMeansFit(emb, idCol, vecCol, k, iters, "id").assign
      .agg(sum(col("d2")).as("within_sum"))
    val cells = cellsOf(emb, idCol, vecCol)
    val nv = emb.select(size(col(vecCol)).as("d"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        max(col("d")).cast("long").as("dim"))
    val mu = cells.groupBy("i").agg(snapCol(avg(col("x"))).as("m"))
    val tot = cells.join(mu, "i")
      .agg(sum((col("x") - col("m")) * (col("x") - col("m"))).as("total_sum"))
    nv.crossJoin(within).crossJoin(tot)
      // n(n−1) is even, so /2 is exact in double up to n ~ 9e7 (n² < 2^53)
      .withColumn("uncapped_pairs",
        (col("n_vectors") * (col("n_vectors") - 1) / lit(2)).cast("long"))
      .withColumn("budget_pairs", col("n_vectors") * lit(budgetPerVec))
      // PER-CELL variances, not raw sums: dividing by the exact n·dim
      // count keeps the reported magnitudes O(spread²), so double
      // summation-order noise sits ~5 decades under the 1e-6 compare
      // grid at any corpus size (a raw sum's noise grows with N·|x| and
      // reaches the grid around 32k cells). EVR is a ratio, so it is
      // identical either way.
      .withColumn("within_var",
        col("within_sum") / (col("n_vectors") * col("dim")).cast("double"))
      .withColumn("total_var",
        col("total_sum") / (col("n_vectors") * col("dim")).cast("double"))
      .withColumn("evr", when(col("total_var") > 0,
        snapCol(lit(1.0) - col("within_var") / col("total_var")))
        .otherwise(lit(0.0)))
      .withColumn("kernel",
        when(col("uncapped_pairs") <= col("budget_pairs"), lit("brute"))
          .when(col("evr") >= 0.5, lit("ivf"))
          .otherwise(lit("lsh_banded")))
      .select(col("n_vectors"), col("dim"), col("uncapped_pairs"),
        col("budget_pairs"), col("within_var"), col("total_var"),
        col("evr"), col("kernel"))
  }

  /**
   * Executes [[annRoute]]'s decision: near-duplicate pairs (v0 < v1,
   * snapped cosine ≥ `simThreshold`) through the chosen kernel —
   * `brute` = [[allPairsCosine]]; `ivf` = within-list pairs of the same
   * Lloyd fit the route measured (candidates bounded by Σ_l C(n_l, 2));
   * `lsh_banded` = [[lshNearPairsCosine]]. The 1-row route collect is
   * model-sized (the [[graft.ext.Dedup.autoDedupPairs]] convention), so
   * calling this executes the route probe eagerly. `vecCol` must be
   * `array<float>` (the kernels' [[dotSql float_dot]] contract); recall
   * is kernel-dependent — brute is exact, ivf misses cross-list pairs
   * (≈ none when the route chose it for a separated corpus), lsh_banded
   * follows the sign-LSH cone analysis (≈ 1 in the near-dup regime).
   */
  def annAutoPairs(emb: DataFrame, idCol: String, vecCol: String,
      simThreshold: Double, dim: Int, k: Int = 8, iters: Int = 2,
      budgetPerVec: Long = 128L): DataFrame = {
    val kernel = annRoute(emb, idCol, vecCol, k, iters, budgetPerVec)
      .select(col("kernel")).head().getString(0)
    val pairs = kernel match {
      case "brute" => allPairsCosine(emb, idCol, vecCol)
      case "ivf" =>
        val n = withNorms(emb, idCol, vecCol)
          .join(kMeansAssign(emb, idCol, vecCol, k, iters)
            .select(col("vec_id"), col("cluster")), "vec_id")
        PairSurface.pairs(n, Seq("cluster"), "vec_id")
          .select(col("a.vec_id").as("v0"), col("b.vec_id").as("v1"),
            snapCol(expr(dotSql("a.emb", "b.emb")) /
              (col("a.nrm") * col("b.nrm"))).as("cosine"))
      case _ => lshNearPairsCosine(emb, idCol, vecCol, dim)
    }
    pairs.where(col("cosine") >= lit(simThreshold))
  }

  /**
   * The trained IVF index: the [[kMeansCentroids]] codebook and the
   * inverted lists (vec_id, emb, nrm, cid) — each candidate with its
   * vector, L2 norm and nearest-centroid list id. The codebook is
   * kClusters·dim MODEL rows, not data, and the list build plus every
   * query assignment sit on it; left lazy, each re-executes the whole
   * training chain. So it is collected once (`materialize`), the
   * standard eager-fit shape (MLlib does the same); the values are
   * identical (already snapped). `materialize = false` keeps the fully
   * lazy single-DAG form.
   */
  private def ivfLists(candidates: DataFrame, idCol: String, vecCol: String,
      kClusters: Int, iters: Int, seeding: String,
      materialize: Boolean = true): (DataFrame, DataFrame) = {
    require(kClusters > 0, s"kClusters must be positive (kClusters=$kClusters)")
    val fitted = kMeansCentroids(candidates, idCol, vecCol, kClusters, iters, seeding)
    val cent =
      if (!materialize) fitted
      else {
        val spark = candidates.sparkSession
        spark.createDataFrame(
          spark.sparkContext.parallelize(fitted.collect().toSeq, 1), fitted.schema)
      }
    val cid = nearest(centroidD2(cellsOf(candidates, idCol, vecCol), cent,
      Seq("vec_id", "cid")), Seq("vec_id"), 1).select(col("vec_id"), col("cid"))
    (cent, withNorms(candidates, idCol, vecCol).join(cid, "vec_id"))
  }

  /** IVF search: each query's `nprobe` nearest centroids of `cent`
    * (probe rank `pr`), joined to those inverted `lists`' members and
    * scored by exact snapped cosine as (query_id, vec_id, pr, cosine),
    * self-pairs excluded. A zero vector has no direction: its cosine is
    * 0 (orthogonal by convention, as in [[truncationAudit]]), not a
    * division by zero. A candidate lives in exactly one list, so probing
    * distinct lists yields no duplicate pair. */
  private def ivfProbe(lists: DataFrame, cent: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, nprobe: Int): DataFrame = {
    val probes = nearest(centroidD2(cellsOf(queries, idCol, vecCol), cent,
        Seq("vec_id", "cid")), Seq("vec_id"), nprobe)
      .select(col("vec_id").as("query_id"), col("cid"),
        col("rn").cast("long").as("pr"))
    val q = withNorms(queries, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))
      .join(probes, "query_id")
    lists.join(broadcast(q), Seq("cid"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("pr"),
        snapCol(when(col("qnrm") === 0.0 || col("nrm") === 0.0, lit(0.0))
          .otherwise(expr(dotSql("qemb", "emb")) / (col("qnrm") * col("nrm"))))
          .as("cosine"))
  }

  /**
   * Trained-IVF top-k: the real IVF index [[ivfTopK]]'s argmax quantizer
   * stands in for. Candidates are assigned to their nearest
   * [[kMeansCentroids]] centroid (the inverted lists); each query probes
   * its `nprobe` nearest centroids and ranks only those lists'
   * candidates — the recall/cost knob of a production IVF index
   * (nprobe/kClusters of the corpus scanned per query).
   *
   * Scale shape: centroids are k·dim broadcast rows; candidate and query
   * assignment are the same broadcast-join + map-side partial aggregate
   * as training; search is one equi-join on the cluster id. A candidate
   * lives in exactly one list, so probing distinct clusters yields no
   * duplicate (query, candidate) pairs. Determinism: snapped distances
   * with cid tiebreaks, as everywhere in the k-means family.
   */
  def ivfKMeansTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, kClusters: Int = 8, iters: Int = 2,
      nprobe: Int = 2, materializeCodebook: Boolean = true,
      seeding: String = "id"): DataFrame = {
    require(k > 0, s"k must be positive (k=$k)")
    require(nprobe > 0, s"nprobe must be positive (nprobe=$nprobe)")
    val (cent, lists) = ivfLists(candidates, idCol, vecCol, kClusters, iters,
      seeding, materializeCodebook)
    rank(ivfProbe(lists, cent, queries, idCol, vecCol, nprobe), k)
  }

  /**
   * Persist a trained IVF index to `dir`: the [[kMeansCentroids]]
   * codebook as `centroids` and the inverted lists — each candidate with
   * its vector, precomputed L2 norm, and nearest-centroid list id — as
   * `lists`, parquet-partitioned BY the list id. Build once, query many:
   * the training cost (Lloyd rounds over the corpus) amortizes across
   * every [[ivfIndexTopK]] batch that follows, which is how a production
   * ANN index actually runs — nobody re-clusters per query batch.
   *
   * Scale shape: the index write is the training plan plus one
   * partitioned parquet sink; `partitionBy(cid)` lays each inverted list
   * in its own directory, so query-time probes of a few lists become
   * directory-pruned scans (static pruning when the probe set is
   * literal, dynamic partition pruning off the broadcast probe join
   * otherwise) — the nprobe/kClusters cost knob becomes an I/O knob, not
   * just a compute one.
   */
  def saveIvfIndex(candidates: DataFrame, idCol: String, vecCol: String,
      kClusters: Int, iters: Int, dir: String,
      seeding: String = "id"): Unit = {
    val (cent, lists) = ivfLists(candidates, idCol, vecCol, kClusters, iters, seeding)
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    lists.write.mode("overwrite").partitionBy("cid").parquet(s"$dir/lists")
  }

  /**
   * Top-k search over a PERSISTED IVF index ([[saveIvfIndex]]): assign
   * each query to its `nprobe` nearest stored centroids, scan only those
   * inverted lists, rank by exact cosine. Bit-identical to running
   * [[ivfKMeansTopK]] with the same training parameters (same snapped
   * distances, same cid tiebreaks) — spec-pinned — so an index built
   * once serves any later query batch with no drift.
   *
   * Scale shape: centroids are k·dim model rows broadcast once; the ONE
   * data-sized operation is the cid equi-join of the (tiny) probe table
   * against the partitioned lists scan, which prunes to the probed
   * directories. Queries never touch the unprobed (kClusters − nprobe)
   * / kClusters of the corpus.
   */
  def ivfIndexTopK(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive (k=$k)")
    require(nprobe > 0, s"nprobe must be positive (nprobe=$nprobe)")
    rank(ivfProbe(spark.read.parquet(s"$dir/lists"),
      spark.read.parquet(s"$dir/centroids"), queries, idCol, vecCol, nprobe), k)
  }

  /** Process-scoped location for a persisted IVF index derived from
    * `dataDir` (the [[graft.ext.Relational]] bucketed-table convention:
    * readable suffix + MD5 digest, under this JVM's warehouse). */
  def ivfIndexLocation(spark: SparkSession, dataDir: String): String = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dataDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val tag = dataDir.replaceAll("[^a-zA-Z0-9]", "_").takeRight(40) + "_" + digest
    s"$wh/graft_ivf_$tag"
  }

  /**
   * Rank each query's candidates (snapped cosine DESC, vec_id ASC) and
   * keep the top k. Deliberately the WINDOW spelling, not the
   * bounded-heap [[graft.functions.TopKAgg]] — both were built and
   * MEASURED (values bit-identical: every caller snaps first, so the
   * 1e-6-scaled int64 ordering equals the double ordering): the
   * aggregator was 1.2–1.9× slower across the family at sf0.1 AND at
   * the 10× replica (ann_pareto 2.7 s → 5.0 s, retrieval_mmr 4.5 →
   * 5.2), because ObjectHashAggregate drops whole-stage codegen and
   * pays a typed ser/de per input row, while the window's
   * UnsafeExternalSorter is codegen-fed. The aggregator remains the
   * right tool when a single group's candidates cannot FIT/spill in a
   * sort (its state is O(k) per group vs the window's full-group sort
   * buffer) — that regime is [[graft.ext.Events.topUsersPerType]]'s
   * documented territory, not this broadcast-bounded one.
   */
  private def rank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cosine")
  }

  /**
   * IVF recall/cost pareto sweep — the table that CHOOSES `nprobe`: for
   * every probe budget 1..`maxNprobe`, the exact recall@k of the trained
   * IVF search against the brute top-k truth AND the candidate volume it
   * scanned (the cost axis — candidates/query ≈ nprobe/kClusters of the
   * corpus). [[recallAtK]] audits ONE operating point; production tuning
   * needs the curve, measured on the engine's own index, before a 100 TB
   * corpus commits to a probe budget. Emits one row per nprobe with
   * exact int64 hit/candidate counts and the two averages.
   *
   * The sweep is a fan-out, not a re-search: a candidate lives in
   * exactly ONE inverted list, so each (query, candidate) pair carries
   * the probe rank of its list and "search at nprobe = p" is the filter
   * `probe_rank ≤ p` over ONE scored table — the
   * [[graft.ext.Dedup.jaccardThresholdSweep]] shape applied to ANN.
   *
   * Determinism: the same snapped-distance/snapped-cosine/cid-and-id
   * tie-break rules as [[ivfKMeansTopK]] and [[topK]] everywhere; counts
   * exact int64; two exact-rational divisions per row.
   *
   * Scale shape: the trained-IVF scoring plan once (broadcast codebook,
   * one list equi-join), exploded ×maxNprobe (a constant), one
   * (nprobe, query)-keyed rank window, result-sized recall joins, and a
   * maxNprobe-row assembly. The brute-truth side is the sanctioned
   * all-pairs broadcast baseline — the calibration cost recallAtK
   * already pays, amortized over every nprobe at once.
   */
  def ivfParetoSweep(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, kClusters: Int = 8, iters: Int = 2,
      maxNprobe: Int = 4, seeding: String = "id"): DataFrame = {
    require(k > 0, s"k must be positive (k=$k)")
    require(maxNprobe > 0, s"maxNprobe must be positive (maxNprobe=$maxNprobe)")
    val spark = candidates.sparkSession
    import spark.implicits._
    val (cent, lists) = ivfLists(candidates, idCol, vecCol, kClusters, iters, seeding)
    val probed = ivfProbe(lists, cent, queries, idCol, vecCol, maxNprobe)
    val ex = probed.select(col("query_id"), col("vec_id"), col("cosine"),
        explode(array((1 to maxNprobe).map(i => lit(i.toLong)): _*)).as("np"),
        col("pr"))
      .where(col("pr") <= col("np"))
    val wR = Window.partitionBy("np", "query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val ap = ex.withColumn("rn", row_number().over(wR)).where(col("rn") <= k)
      .select("np", "query_id", "vec_id")
    val truth = topK(candidates, queries, idCol, vecCol, k)
      .select(col("query_id"), col("vec_id"))
    val hits = ap.join(truth, Seq("query_id", "vec_id"))
      .groupBy("np").agg(count(lit(1)).as("n_hits"))
    val cands = ex.groupBy("np").agg(count(lit(1)).as("n_candidates"))
    val qs = queries.agg(countDistinct(col(idCol)).as("n_queries"))
    (1 to maxNprobe).map(_.toLong).toDF("np")
      .join(cands, Seq("np"), "left")
      .join(hits, Seq("np"), "left")
      .na.fill(0L, Seq("n_candidates", "n_hits"))
      .crossJoin(broadcast(qs))
      .select(col("np").as("nprobe"), col("n_queries"),
        col("n_candidates"), col("n_hits"),
        when(col("n_queries") > 0,
          col("n_candidates").cast("double") / col("n_queries").cast("double"))
          .otherwise(lit(0.0)).as("avg_candidates"),
        when(col("n_queries") > 0,
          col("n_hits").cast("double")
            / (lit(k.toLong) * col("n_queries")).cast("double"))
          .otherwise(lit(0.0)).as("avg_recall"))
  }

  /**
   * Recall@k of an approximate top-k result against an exact one — the
   * standard self-audit for any ANN index ([[lshTopK]], [[ivfTopK]],
   * [[ivfKMeansTopK]]): per query, the fraction of the exact neighbor set
   * the approximate search retrieved. Both inputs are (query_id, rank,
   * vec_id, ...) tables as produced by the top-k family; `k` is taken
   * from the TRUTH side per query (so a truncated truth list — fewer than
   * k non-self candidates — still scores to 1.0 when fully recovered),
   * and queries the approximate side missed entirely (empty LSH bucket)
   * score 0 rather than dropping out.
   *
   * Scale shape: two hash aggregates and one equi-join, all keyed on
   * query_id — result-sized (Q·k rows), never corpus-sized. On a cluster
   * this is a metrics query over two already-computed result tables; the
   * expensive part is producing the inputs, not scoring them.
   */
  def recallAtK(truth: DataFrame, approx: DataFrame): DataFrame = {
    val t = truth.select(col("query_id"), col("vec_id"))
    val a = approx.select(col("query_id"), col("vec_id"))
    val hits = t.join(a, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    t.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("hits"))
      .select(col("query_id"), col("k"), col("hits"),
        snapCol(col("hits").cast("double") / col("k")).as("recall"))
  }

  /**
   * Truncation fidelity audit (the Matryoshka question, Kusupati et al.
   * 2022: how much similarity structure survives keeping only the first
   * `prefixDim` dimensions?): for each query vector (ids ≡ 0 mod
   * `queryMod`), cosine to every other vector is computed at FULL
   * dimension and at the `prefixDim` prefix, and the per-query
   * distribution of |Δcosine| is summarized — candidate count, mean and
   * max |Δ|, and how many candidates moved by more than `eps`. That is
   * the evidence for the storage/recall trade of truncated embeddings
   * (serve prefix-dim, rerank full-dim): a small max |Δ| bounds the
   * rank damage any truncated ANN route can cause.
   *
   * Both cosines are snapped to the 1e-6 grid BEFORE differencing, so
   * the deltas (and the eps threshold) compare bit-identical values in
   * any engine. Aggregate, not top-k: no tie policy needed.
   *
   * Scale shape: [[topK]]'s broadcast-queries × candidate-scan shape
   * with two codegen'd float_dot's per pair instead of one (the prefix
   * slice is row-local), folding straight into a query-keyed aggregate
   * with map-side partials — Q·N dots, result is Q rows. At corpus
   * scale you run it on a sampled query set exactly as here.
   */
  def truncationAudit(emb: DataFrame, idCol: String, vecCol: String,
      prefixDim: Int, queryMod: Int, eps: Double = 0.001): DataFrame = {
    require(prefixDim >= 1 && queryMod >= 1 && eps >= 0)
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val base = emb.select(col(idCol).as("vec_id"), col(vecCol).as("emb"),
        expr(s"slice($vecCol, 1, $prefixDim)").as("hemb"))
      .withColumn("nrm", expr(normSql("emb")))
      .withColumn("hnrm", expr(normSql("hemb")))
    val q = base.where(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
        col("hemb").as("qhemb"), col("nrm").as("qnrm"), col("hnrm").as("qhnrm"))
    // a zero-mass PREFIX (all leading dims 0) is a failure mode slicing
    // introduces that full-dim cosine doesn't have: score it 0
    // (orthogonal by convention) instead of leaking a NaN division
    val delta = base.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"),
        snapCol(expr(dotSql("qemb", "emb")) / (col("qnrm") * col("nrm")))
          .as("cf"),
        snapCol(when(col("qhnrm") === 0.0 || col("hnrm") === 0.0, lit(0.0))
          .otherwise(expr(dotSql("qhemb", "hemb"))
            / (col("qhnrm") * col("hnrm"))))
          .as("ch"))
      .select(col("query_id"), abs(col("cf") - col("ch")).as("d"))
    delta.groupBy("query_id")
      .agg(count(lit(1)).as("n_cands"),
        avg(col("d")).as("mean_abs_delta"),
        max(col("d")).as("max_abs_delta"),
        sum(when(col("d") > eps, 1L).otherwise(0L)).as("n_moved"))
  }

  /**
   * kNN label vote over any top-k family result — auto-labeling of
   * unlabeled vectors and label-error auditing (Northcutt et al. 2021,
   * "confident learning": examples whose neighbors systematically
   * outvote their given label are likely mislabeled). `topk` is a
   * (query_id, rank, vec_id, ...) table from [[topK]] / [[ivfTopK]] /
   * [[lshTopKMultiProbe]] / [[ivfKMeansTopK]] — the classifier is
   * index-agnostic, so the ANN escape hatch is the same one the search
   * side already has. `labels` maps every candidate id (and every query
   * id) to one label. Per query: each retrieved neighbor casts one vote
   * for its label; the most-voted label wins, ties break on the smaller
   * label value. Output: (query_id, label, predicted, n_votes, agree).
   *
   * Scale shape: everything downstream of the top-k table is
   * result-sized (Q·k rows) — one equi-join to fetch neighbor labels,
   * one hash aggregate to count votes, one Q-sized window to elect the
   * winner, one join back for the query's own label. The corpus-sized
   * work is producing `topk`, which is the search problem, not the
   * classification.
   */
  def knnClassify(topk: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String): DataFrame = {
    val nbr = labels.select(col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("nbr_label"))
    val votes = topk.select(col("query_id"), col("vec_id"))
      .join(nbr, "vec_id")
      .groupBy("query_id", "nbr_label")
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("nbr_label").asc)
    votes
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .join(labels.select(col(idCol).as("query_id"),
        col(labelCol).cast("long").as("label")), "query_id")
      .select(col("query_id"), col("label"),
        col("nbr_label").as("predicted"), col("n_votes"),
        when(col("label") === col("nbr_label"), 1L).otherwise(0L).as("agree"))
  }

  /**
   * Deterministic signed-random-projection planes for [[project]]:
   * `outDim × dim` small-integer components from a fixed multiplicative
   * formula (Knuth constant, decorrelated from [[lshPlaneRows]]'s), so
   * the identical matrix can be interpolated into an oracle as a literal
   * VALUES table. Components span [-6, 6] like the LSH planes.
   */
  def projPlaneRows(outDim: Int, dim: Int): Seq[(Int, Int, Int)] =
    for { j <- 0 until outDim; i <- 0 until dim }
      yield (j, i, ((2654435761L * (j * dim + i + 1)) % 13 - 6).toInt)

  /**
   * Random-projection dimensionality reduction (Johnson–Lindenstrauss):
   * maps each `dim`-dimensional vector to `outDim` components
   * `y_j = Σ_i h(j,i)·x_i / √dim`, the database-style alternative to PCA
   * for shrinking embedding columns before clustering / dedup at corpus
   * scale (Achlioptas 2003 shows ±1-style integer projections preserve
   * pairwise distances as well as Gaussian ones). Output is long-form
   * (vec_id, j, value) — the COO shape every downstream operator here
   * already consumes.
   *
   * Scale shape: posexplode (no shuffle) → broadcast join with the
   * `outDim·dim`-row plane table → one hash aggregate keyed
   * (vec_id, j) with map-side partial sums. Output is outDim/dim of the
   * input's cell count; nothing corpus-sized crosses the driver.
   */
  def project(emb: DataFrame, idCol: String, vecCol: String,
      outDim: Int, dim: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val hp = projPlaneRows(outDim, dim).toDF("j", "i", "h")
    val scale = 1.0 / math.sqrt(dim.toDouble)
    cellsOf(emb, idCol, vecCol)
      .join(broadcast(hp), "i")
      .groupBy(col("vec_id"), col("j"))
      .agg(snapCol(sum(col("h") * col("x")) * lit(scale)).as("value"))
  }

  /**
   * Product quantization (Jégou et al. 2011, "Product Quantization for
   * Nearest Neighbor Search"): the vector is split into `dim / subDim`
   * contiguous subspaces and k-means runs INDEPENDENTLY inside each, so a
   * vector compresses to one small code per subspace — at k ≤ 256 that is
   * one byte per subspace (64 floats → 8 bytes at the contract's 8×8
   * split), the memory step beyond [[quantize]]'s 4× that makes
   * billion-vector ANN indexes fit in RAM. Returns long-form
   * (vec_id, s, code, dist2): the assigned codebook entry and snapped
   * squared distance within each subspace.
   *
   * One lazy plan, exactly [[kMeansAssign]]'s shape with the subspace id
   * riding along: seeds are the `k` smallest ids (their subvector in each
   * subspace — deterministic and oracle-mirrorable); each Lloyd round is
   * a broadcast join against the (k·dim)-row codebook plus one aggregate
   * keyed (vec_id, s, cid); the dimension index pins every centroid
   * component to its subspace, so nothing mixes across subspaces and the
   * M independent k-means runs cost ONE pass over the cells per round,
   * not M. Same cross-engine determinism contract as [[kMeansAssign]]
   * (snapped distances/centroids, argmin tiebreak by cid; a centroid
   * that loses all members in one subspace drops out of that subspace's
   * next round only).
   */
  def pqAssign(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, subDim: Int): DataFrame =
    pqFit(emb, idCol, vecCol, k, iters, subDim).assign
      .select(col("vec_id"), col("s"), col("cid").as("code"),
        col("d2").as("dist2"))

  /** The PQ fit after `iters` Lloyd rounds keyed (vec_id, s): its `cent`
    * is the (cid, i, c) codebook the FINAL assignment was scored against,
    * its `assign` that assignment as (vec_id, s, cid, d2). Shared by
    * [[pqAssign]] (codes only) and [[pqTopK]] (which also needs the
    * codebook for ADC). */
  private def pqFit(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, subDim: Int): LloydFit = {
    requireFit(k, iters)
    require(subDim > 0, s"subDim must be positive (subDim=$subDim)")
    val cells = cellsOf(emb, idCol, vecCol)
      .withColumn("s", expr(s"i div $subDim"))
    lloyd(cells, Seq("vec_id", "s"), idSeeds(emb.select(col(idCol).as("vec_id")), k),
      iters, centroidD2(cells, _, Seq("vec_id", "s", "cid")), col("d2").asc,
      meanUpdate)
  }

  /**
   * PQ asymmetric-distance top-k (ADC — Jégou et al. 2011 §IV): queries
   * stay full-precision while candidates are represented ONLY by their
   * [[pqAssign]] codes. Each query precomputes its distance to every
   * codebook entry (a Q·m·k lookup table, model-sized and broadcast);
   * a candidate's approximate distance is then the sum of m table
   * lookups — no candidate vector is ever touched at query time, which
   * is the entire point: the index the scan reads is codes (one byte
   * per subspace), 32× smaller than the float vectors.
   *
   * Scale shape: codebook training and encoding are [[pqFit]]'s
   * broadcast-join passes; search is one equi-join of the code table
   * (N·m narrow rows) against the broadcast lookup table on (s, cid)
   * plus one (query, candidate) aggregate — Q·N·m tiny rows through a
   * map-side-combined sum, never a vector shuffle. Ranking is snapped
   * distance asc with vec_id tiebreak (total order in any engine).
   */
  def pqTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, knn: Int, k: Int, iters: Int, subDim: Int): DataFrame = {
    val fit = pqFit(candidates, idCol, vecCol, k, iters, subDim)
    val qcells = cellsOf(queries, idCol, vecCol)
      .withColumnRenamed("vec_id", "query_id")
      .withColumn("s", expr(s"i div $subDim"))
    val qd = centroidD2(qcells, fit.cent, Seq("query_id", "s", "cid"))
    val scored = fit.assign.select(col("vec_id"), col("s"), col("cid"))
      .join(broadcast(qd), Seq("s", "cid"))
      .where(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(snapCol(sum(col("d2"))).as("adist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= knn)
      .select("query_id", "rank", "vec_id", "adist")
  }

  /**
   * Per-dimension int8 scalar quantization — the standard 4× memory
   * compression for embedding columns before they feed an ANN index
   * (FAISS's SQ8): each component is affinely mapped onto [-128, 127]
   * using that dimension's corpus-wide [min, max]. A constant dimension
   * quantizes to 0. Output is long-form (vec_id, i, q) plus the
   * dimension's range so a consumer can dequantize.
   *
   * Cross-engine exactness: min/max are comparison-only (exact), and the
   * mapping `floor((x-lo)/(hi-lo)·255 + 0.5) - 128` is the same fixed
   * sequence of exactly-rounded IEEE double ops in any engine — no
   * sum-order nondeterminism exists anywhere in this operator.
   *
   * Scale shape: one tiny (dim-sized) min/max aggregate broadcast back
   * over a row-local map — a single pass over the cells, no corpus-sized
   * shuffle at all.
   */
  def quantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val cells = cellsOf(emb, idCol, vecCol)
    val ranges = cells.groupBy("i")
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    cells.join(broadcast(ranges), "i")
      .select(col("vec_id"), col("i"),
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(floor((col("x") - col("lo")) / (col("hi") - col("lo"))
            * lit(255.0) + lit(0.5)).cast("long") - lit(128L)).as("q"),
        col("lo"), col("hi"))
  }

  /**
   * Per-group mean-pooled centroid in long form (group, i, n_vecs, c):
   * the class prototype / cluster centroid every embedding pipeline
   * derives — chunk-to-document pooling, SemDeDup cluster centers,
   * nearest-class-mean classification ([[prototypeAssign]]). Components
   * are snapped to the 1e-6 grid like [[kMeansAssign]]'s centroid update,
   * so downstream distance comparisons reproduce across engines.
   *
   * Scale shape: posexplode (no shuffle) → ONE hash aggregate keyed
   * (group, i) with map-side partial sums — the output is
   * groups·dim rows, model-sized, never corpus-sized.
   */
  def classCentroids(emb: DataFrame, idCol: String, vecCol: String,
      groupCol: String): DataFrame =
    emb.select(col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("i", "e")))
      .select(col("grp"), col("i"), col("e").cast("double").as("x"))
      .groupBy("grp", "i")
      .agg(count(lit(1)).as("n_vecs"), snapCol(avg(col("x"))).as("c"))

  /**
   * Per-label centroid drift between two corpus snapshots — the
   * embedding-space monitor run when the data mix shifts or the
   * embedding model is upgraded: for each label present in BOTH
   * snapshots, member counts, the cosine between the two label
   * centroids (1 → direction unchanged), and the snapped squared L2
   * shift. A label whose centroid swings is where retrieval/dedup
   * thresholds calibrated on the old snapshot silently break first.
   *
   * Scale shape: two [[classCentroids]] aggregates (map-side partial,
   * model-sized outputs) + one (grp, i) equi-join of the two centroid
   * tables + one per-label aggregate — after the centroid step nothing
   * is corpus-sized. Centroids are snapped before the comparison
   * arithmetic (the [[labelCoherence]] convention), and a degenerate
   * zero-norm centroid yields cosine 0 rather than NaN.
   */
  def centroidDrift(embA: DataFrame, embB: DataFrame, idCol: String,
      vecCol: String, groupCol: String): DataFrame = {
    val ca = classCentroids(embA, idCol, vecCol, groupCol)
      .select(col("grp"), col("i"), col("n_vecs").as("n_a"), col("c").as("va"))
    val cb = classCentroids(embB, idCol, vecCol, groupCol)
      .select(col("grp"), col("i"), col("n_vecs").as("n_b"), col("c").as("vb"))
    ca.join(cb, Seq("grp", "i"))
      .groupBy("grp")
      .agg(
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("va") * col("vb")).as("dt"),
        sum(col("va") * col("va")).as("na2"),
        sum(col("vb") * col("vb")).as("nb2"),
        sum((col("va") - col("vb")) * (col("va") - col("vb"))).as("d2"))
      .select(col("grp"), col("n_a"), col("n_b"),
        snapCol(when(col("na2") === 0.0 || col("nb2") === 0.0, lit(0.0))
          .otherwise(col("dt") / (sqrt(col("na2")) * sqrt(col("nb2")))))
          .as("cosine"),
        snapCol(col("d2")).as("l2sq"))
  }

  /**
   * Nearest-class-mean (prototype) classification: each vector is
   * assigned to the [[classCentroids]] prototype with the smallest
   * snapped squared distance (ties break on the smaller group key) — the
   * standard embedding-space label audit: rows where `pred` disagrees
   * with the true label are the mislabeled/outlier candidates a curation
   * pass reviews. Returns (vec_id, grp, pred, d2): true group, predicted
   * group, and the snapped distance to the winning prototype.
   *
   * Scale shape: exactly one Lloyd half-round of [[kMeansAssign]] with
   * trained-in-place prototypes: cells join a broadcast (groups·dim)-row
   * centroid table, one aggregate keyed (vec_id, grp), one row_number
   * window over the groups-sized candidate list per vector.
   */
  def prototypeAssign(emb: DataFrame, idCol: String, vecCol: String,
      groupCol: String): DataFrame = {
    val cent = classCentroids(emb, idCol, vecCol, groupCol)
      .select(col("grp").as("cgrp"), col("i"), col("c"))
    val best = nearest(centroidD2(cellsOf(emb, idCol, vecCol), cent,
        Seq("vec_id", "cgrp")), Seq("vec_id"), 1, tie = "cgrp")
      .select(col("vec_id"), col("cgrp").as("pred"), col("d2"))
    emb.select(col(idCol).as("vec_id"), col(groupCol).as("grp"))
      .join(best, "vec_id")
  }

  /** The [[classCentroids]] table (grp, i, c) and each vector's snapped
    * squared distance to its OWN label's centroid, (vec_id, grp, d2). */
  private def ownLabelD2(emb: DataFrame, idCol: String, vecCol: String,
      groupCol: String): (DataFrame, DataFrame) = {
    val cent = classCentroids(emb, idCol, vecCol, groupCol)
      .select(col("grp"), col("i"), col("c"))
    val cells = emb.select(col(idCol).as("vec_id"), col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("i", "e")))
      .select(col("vec_id"), col("grp"), col("i"), col("e").cast("double").as("x"))
    (cent, centroidD2(cells, cent, Seq("vec_id", "grp"), Seq("grp", "i")))
  }

  /**
   * Per-label embedding-coherence audit — the summary behind a "which
   * label slices are noisy" curation review: for each label, its member
   * count, the mean squared distance of members to their OWN label
   * centroid (cohesion), and the squared distance from its centroid to
   * the nearest OTHER label's centroid (separation). A label whose
   * cohesion rivals or exceeds its separation is diffuse or entangled
   * with a neighbor — exactly the slices [[prototypeAssign]]'s per-vector
   * disagreements come from, summarized to one row per label so the
   * review can rank slices before drilling into vectors.
   *
   * Scale shape: one (grp, i) centroid aggregate (map-side partial,
   * model-sized output), one broadcast join of cells against that
   * centroid table with a (vec_id)-keyed distance aggregate — the same
   * single-pass shape as [[prototypeAssign]] but restricted to the own
   * label (equi-join on grp), so the per-vector candidate fan-out is 1,
   * not `groups`. Separation is a self-join of the MODEL-SIZED centroid
   * table — never touches the corpus. Per-vector d2 and inter-centroid
   * d2 are snapped to the 1e-6 grid before averaging/min so the ranking
   * is reproducible across engines and partitionings.
   */
  def labelCoherence(emb: DataFrame, idCol: String, vecCol: String,
      groupCol: String): DataFrame = {
    val (cent, ownD2) = ownLabelD2(emb, idCol, vecCol, groupCol)
    val cohesion = ownD2.groupBy("grp")
      .agg(count(lit(1)).as("n_vecs"), avg(col("d2")).as("mean_d2"))
    val sep = cent.as("a")
      .join(cent.as("b"),
        col("a.i") === col("b.i") && col("a.grp") =!= col("b.grp"))
      .groupBy(col("a.grp").as("grp"), col("b.grp").as("ogrp"))
      .agg(sum((col("a.c") - col("b.c")) * (col("a.c") - col("b.c"))).as("cd2"))
      .select(col("grp"), snapCol(col("cd2")).as("cd2"))
      .groupBy("grp").agg(min(col("cd2")).as("min_other_d2"))
    cohesion.join(sep, "grp")
  }

  /**
   * Per-vector label-outlier audit — the vector-level drill-down behind
   * [[labelCoherence]]'s per-label summary: each vector's snapped squared
   * distance to its OWN label centroid, z-scored within the label
   * (population mean/stddev). A large positive `z` flags the vectors a
   * curation pass reviews first — mislabeled points sit far from their
   * class mean, corrupt/degenerate embeddings even farther. Vectors in a
   * zero-variance label (all members equidistant after snapping, e.g. a
   * singleton) get `z = 0` — there is no scale to be an outlier on.
   *
   * The variance is computed EXPLICITLY as the mean squared deviation
   * from the snapped per-label mean (two model-sized aggregates over the
   * snapped d2 column) rather than via the engine's `stddev` — a fixed
   * multiply-add-mod-free op order any engine reproduces bit-comparably
   * on the 1e-6 grid, the same determinism contract every cross-engine
   * double here follows.
   *
   * Scale shape: [[labelCoherence]]'s single-pass own-centroid distance
   * (cells ⋈ broadcast model-sized centroids → one (vec_id)-keyed
   * aggregate), then two label-keyed aggregates whose outputs are
   * label-count-sized and broadcast back. Nothing corpus-sized is
   * collected; the only corpus-wide shuffles are the centroid aggregate
   * and the per-vector distance aggregate.
   */
  def labelOutliers(emb: DataFrame, idCol: String, vecCol: String,
      groupCol: String): DataFrame = {
    val (_, ownD2) = ownLabelD2(emb, idCol, vecCol, groupCol)
    val mean = ownD2.groupBy("grp")
      .agg(snapCol(avg(col("d2"))).as("mean_d2"))
    val variance = ownD2.join(broadcast(mean), "grp")
      .groupBy("grp")
      .agg(snapCol(avg((col("d2") - col("mean_d2"))
        * (col("d2") - col("mean_d2")))).as("var_d2"))
    ownD2
      .join(broadcast(mean), "grp")
      .join(broadcast(variance), "grp")
      .select(col("vec_id"), col("grp"), col("d2"),
        when(col("var_d2") > 0,
          snapCol((col("d2") - col("mean_d2")) / sqrt(col("var_d2"))))
          .otherwise(lit(0.0)).as("z"))
  }

  /**
   * SemDeDup-style within-cluster semantic dedup (Abbas et al. 2023,
   * "SemDeDup: Data-efficient learning at web-scale through semantic
   * deduplication"): vectors are blocked by a cluster id (a k-means
   * assignment at scale; any partition column works), pairwise cosine is
   * computed ONLY inside each cluster, and of any pair with snapped
   * cosine ≥ `eps` the larger id is dropped. Returns every vector with
   * its keep decision: (vec_id, grp, kept 0/1).
   *
   * Keep rule: a vector is dropped iff SOME lower-id vector in its
   * cluster is eps-close — the greedy keep-lowest-id variant (the paper
   * keeps the member farthest from the cluster centroid; the greedy rule
   * is deterministic without a second centroid pass and is what exact
   * near-dup grouping ([[Dedup.dupGroups]]) uses as its representative
   * convention). Cross-cluster near-duplicates are NOT examined — that
   * blocking miss rate is the documented SemDeDup trade for never
   * materializing the global pair surface.
   *
   * Scale shape: the self-join is an equi-join on the cluster id, so the
   * pair surface is Σ_cluster C(n_cluster, 2) — bounded by the clustering
   * granularity (the paper uses k ≈ 10⁴⁻⁵ clusters at web scale, keeping
   * clusters thousands-sized), never C(N, 2). One exchange keyed on the
   * cluster id; AQE splits residual skew from oversized clusters.
   */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      groupCol: String, eps: Double): DataFrame = {
    val n = withNorms(emb, idCol, vecCol)
      .join(emb.select(col(idCol).as("vec_id"), col(groupCol).as("grp")), "vec_id")
    val dropped = PairSurface.pairs(n, Seq("grp"), "vec_id")
      .select(col("b.vec_id").as("vec_id"),
        snapCol(expr(dotSql("a.emb", "b.emb")) / (col("a.nrm") * col("b.nrm"))).as("c"))
      .where(col("c") >= eps)
      .select("vec_id").distinct()
    emb.select(col(idCol).as("vec_id"), col(groupCol).as("grp"))
      .join(dropped.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("grp"),
        when(col("hit").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
  }

  /**
   * Population covariance matrix of the embedding column — the input to
   * PCA ([[pcaComponents]]) and the first-stop anisotropy audit
   * (embedding collapse shows up as a handful of dominant diagonal
   * entries). Returns the upper triangle (i ≤ j) as
   * (i, j, cov = E[x_i·x_j] − E[x_i]·E[x_j]), snapped.
   *
   * Scale shape: the d·(d+1)/2 outer products per row are generated
   * ROW-LOCALLY (nested array transform + one explode — no self-join, no
   * pre-aggregation exchange), then one hash aggregate keyed (i, j) with
   * map-side partials: the only shuffle is d²-sized, whatever N is. The
   * mean join at the end is a broadcast of d rows. For very large d the
   * d²-per-row explosion trades against a per-partition Gramian
   * accumulation, but through d ≈ 10³ (typical embedding widths) the
   * explode stays whole-stage-codegen'd and oracle-mirrorable.
   */
  def covariance(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val cells = cellsOf(emb, idCol, vecCol)
    val means = cells.groupBy(col("i"))
      .agg(avg(col("x")).as("m"), count(lit(1)).as("n"))
    // upper-triangle products inside the row: struct(i, j, x_i·x_j)
    val pairs = emb
      .select(expr(
        s"""explode(flatten(transform(sequence(0, size($vecCol) - 1), i ->
           |  transform(sequence(i, size($vecCol) - 1), j -> struct(i AS i, j AS j,
           |    CAST(element_at($vecCol, i + 1) AS DOUBLE) *
           |    CAST(element_at($vecCol, j + 1) AS DOUBLE) AS p)))))""".stripMargin)
        .as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.p").as("p"))
    pairs.groupBy(col("i"), col("j")).agg(sum(col("p")).as("sp"))
      .join(broadcast(means.select(col("i"), col("m").as("mi"), col("n"))), "i")
      .join(broadcast(means.select(col("i").as("j"), col("m").as("mj"))), "j")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        snapCol(col("sp") / col("n") - col("mi") * col("mj")).as("cov"))
  }

  /**
   * Top-k principal components by power iteration with deflation over
   * the collected covariance matrix — a MODEL-SIZED eager fit (d×d
   * doubles cross the driver, never a corpus-sized row set), the same
   * sanctioned pattern as the PQ codebook collect. Deterministic end to
   * end: fixed start vector (uniform 1/√d plus an index-linear tilt so
   * no eigenvector of a symmetric real matrix can be exactly orthogonal
   * to it in practice), fixed iteration count, and a sign convention
   * (largest-|component| coordinate made positive, ties to the lower
   * index) so re-runs and test re-plans agree bit for bit.
   *
   * Returns (component, eigenvalue, vector) with components ordered by
   * descending eigenvalue — eigenvalue k is the variance along component
   * k, the "explained variance" curve that decides how far an embedding
   * column can be truncated before ANN recall decays.
   */
  def pcaComponents(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 100): Seq[(Int, Double, Array[Double])] = {
    require(k >= 1, s"k must be at least 1 (k=$k)")
    require(iters >= 1, s"iters must be at least 1 (iters=$iters)")
    val tri = covariance(emb, idCol, vecCol).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
    val d = tri.map(_._2).max + 1
    val a = Array.ofDim[Double](d, d)
    tri.foreach { case (i, j, c) => a(i)(j) = c; a(j)(i) = c }
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * v(j)).sum)
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    (0 until k).map { c =>
      var v = Array.tabulate(d)(i => 1.0 / math.sqrt(d.toDouble) + 1e-4 * (i + 1))
      var lambda = 0.0
      (0 until iters).foreach { _ =>
        val w = matVec(v)
        val n = norm(w)
        // a deflated-to-zero matrix (k > rank) yields the zero vector:
        // keep the previous direction, eigenvalue 0
        if (n > 1e-300) { v = w.map(_ / n); lambda = n }
        else lambda = 0.0
      }
      // sign convention: largest-|component| coordinate positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v = v.map(-_)
      // deflate: A ← A − λ v vᵀ
      for (i <- 0 until d; j <- 0 until d) a(i)(j) -= lambda * v(i) * v(j)
      (c, lambda, v)
    }
  }

  /**
   * PCA projection: center each vector on the column means and dot it
   * with the top-k [[pcaComponents]] — long-form (vec_id, pc, value),
   * the COO shape downstream operators consume. The components and mean
   * ride in as one broadcast k·d-row literal table; the projection
   * itself is [[project]]'s exact plan (posexplode → broadcast join →
   * one map-side-combined aggregate keyed (vec_id, pc)).
   */
  def pcaProject(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 100): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val comps = pcaComponents(emb, idCol, vecCol, k, iters)
    val cells = cellsOf(emb, idCol, vecCol)
    val meanRows = cells.groupBy(col("i")).agg(avg(col("x")).as("m"))
    val compRows = comps
      .flatMap { case (c, _, v) => v.zipWithIndex.map { case (x, i) => (c, i, x) } }
      .toDF("pc", "i", "w")
    cells
      .join(broadcast(meanRows), "i")
      .join(broadcast(compRows), "i")
      .groupBy(col("vec_id"), col("pc"))
      .agg(snapCol(sum((col("x") - col("m")) * col("w"))).as("value"))
  }
}
