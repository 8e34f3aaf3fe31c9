package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CosineAnalysis
import EntryUtil._

/**
 * Driver-contract queries for the cosine core — one per SURVEY.md §2 operator
 * F through Q, each with a DuckDB oracle over the same lineitem-derived
 * supplier×part matrix. Names referenced by VERDICT.md's coverage table.
 */
object CoreEntries {

  /** Subset used by cosine_subset — suppkeys 0..11 exist at every sf. */
  private val subsetIds: Seq[String] = (0 to 11).map(_.toString)

  private def analysis(spark: SparkSession) = new CosineAnalysis(spark, axis = "y")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2-F per-vector max aggregate
    "max_values" -> ((s, dir) =>
      gate(analysis(s).maxValues(supplierPartMatrix(s, dir)).toDF(), "axis")),
    // §2-G normalize join+project
    "normalize" -> ((s, dir) =>
      gate(analysis(s).normalize(supplierPartMatrix(s, dir)).toDF(), "y", "x")),
    // §2-H omitRatio filter (the reference's documented-but-dead filter, fixed)
    "normalize_omit" -> ((s, dir) =>
      gate(new CosineAnalysis(s, axis = "y", omitRatio = 0.5)
        .normalize(supplierPartMatrix(s, dir)).toDF(), "y", "x")),
    // §2-K full vector norms
    "vector_mods" -> ((s, dir) => {
      val a = analysis(s)
      gate(a.vectorMods(a.normalize(supplierPartMatrix(s, dir))).toDF(), "vector")
    }),
    // §2-I pairwise alignment (coordinate self-equi-join)
    "aligned_pairs" -> ((s, dir) => {
      val a = analysis(s)
      gate(a.alignedPairs(a.normalize(supplierPartMatrix(s, dir))).toDF(),
        "vector0", "vector1", "prediction_axis")
    }),
    // §2-J sparse pairwise norms (intersection-restricted)
    "pair_mods_sparse" -> ((s, dir) => {
      val a = analysis(s)
      gate(a.pairModsSparse(a.alignedPairs(a.normalize(supplierPartMatrix(s, dir)))).toDF(),
        "vector0", "vector1")
    }),
    // §2-L dense all-pairs norms (self-join, not the reference's 1-task agg)
    "pair_mods_dense" -> ((s, dir) => {
      val a = analysis(s)
      gate(a.pairModsDense(a.vectorMods(a.normalize(supplierPartMatrix(s, dir)))).toDF(),
        "vector0", "vector1")
    }),
    // §2-M dot-product aggregate (the cosine numerator)
    "pair_dot" -> ((s, dir) => {
      val a = analysis(s)
      val dot = a.alignedPairs(a.normalize(supplierPartMatrix(s, dir)))
        .groupBy("vector0", "vector1")
        .agg(sum(col("value1") * col("value2")).as("dot"))
      gate(dot, "vector0", "vector1")
    }),
    // §2-P+Q sparse fit → all pairwise similarities. NO entry pins
    // anywhere in the fit family (r13 + r14, three measurements —
    // closed; do NOT retry):
    //  - sparse: 3.87 s unpinned vs 4.79 s pinned at sf0.1 (r13 paired
    //    min-of-3 JVMs) — the sparse path consumes the normalized table
    //    exactly once, so the checkpoint is pure overhead ("cache build
    //    dominated the sparse pipeline", [[graft.core.CosineAnalysis
    //    .fit]]'s scaladoc).
    //  - dense, localCheckpoint (r13): won 0.81–0.94× at sf0.1 but
    //    CLIFFED at the 10× replica (cosine_topk 32.7 → 280.0 s) — the
    //    stats-less LogicalRDD degrades the quadratic pair plan.
    //  - dense, persist(MEMORY_AND_DISK)+count (r14, VERDICT r13 ask #4
    //    — the stats-preserving retry): LOST at sf0.1 itself. Paired
    //    A/B min-of-3: dense_all 2.00 → 3.43 s (1.71×), subset 1.38 →
    //    2.49 s (1.81×), topk 1.13× — the columnar cache build costs
    //    more than the Exchange collapse saves on 2–6 s queries — AND
    //    the cache churn poisons LATER same-JVM queries even after
    //    clearCache (cosine_predict_ivf 11.9 → 25.0 s, recall 9.1 →
    //    14.5 s in-run; both normal when run alone — clearCache's
    //    non-blocking unpersist leaves blocks competing with the Lloyd
    //    fits' execution memory). Two strikes; the `pin` hook stays on
    //    the API (default identity) for model-serving callers.
    "cosine_sparse_all" -> ((s, dir) =>
      gate(analysis(s).fit(supplierPartMatrix(s, dir), isSparse = true)
        .allSimilarityValue.toDF(), "vector0", "vector1")),
    // §2-N right-outer join + coalesce(0.0): dense fit → all pairs
    "cosine_dense_all" -> ((s, dir) =>
      gate(analysis(s).fit(supplierPartMatrix(s, dir), isSparse = false)
        .allSimilarityValue.toDF(), "vector0", "vector1")),
    // §2-O subset filter on both endpoints
    "cosine_subset" -> ((s, dir) =>
      gate(analysis(s).fit(supplierPartMatrix(s, dir), isSparse = false)
        .similarity(subsetIds).toDF(), "vector0", "vector1")),
    // k most-similar neighbors per vector (windowed rank over dense sims)
    "cosine_topk" -> ((s, dir) =>
      gate(analysis(s).fit(supplierPartMatrix(s, dir), isSparse = false)
        .topSimilar(5), "vector", "rank")),
    // the reference's announced missing-value prediction, implemented
    "cosine_predict" -> ((s, dir) =>
      gate(analysis(s).predictMissing(supplierPartMatrix(s, dir), neighbors = 5),
        "y", "x")),
    // The sign-LSH sparse route (`cosine_topk_ann` / `cosine_predict_ann`
    // / `cosine_topk_clustered_ann`) was DELETED in r11: the r10
    // clustered-fixture shootout left it strictly dominated by the IVF
    // route on every fixture ever measured (see the SparseAnn object
    // scaladoc's migration note). The quadratic-free twins below are IVF.
    // IVF-routed missing-value prediction: same CF weighting as
    // cosine_predict, neighbors restricted to the IVF candidate rule
    "cosine_predict_ivf" -> ((s, dir) =>
      gate(graft.ext.SparseAnn.predictMissingIvf(analysis(s), supplierPartMatrix(s, dir), 5,
        pin = _.localCheckpoint()), "y", "x")),
    // IVF-routed top-k (r8 ask #4): feature-hash the sparse vectors to a
    // fixed dim, Lloyd the hashed corpus into inverted lists, candidates
    // from symmetric nprobe routing, EXACT sparse cosine on candidates —
    // the quadratic-free route for the dense-support regime where
    // sign-LSH measurably loses (bench_sf1.json). List count SELF-SIZES
    // from the vector count (SparseAnn.AutoLists → deriveLists, target
    // occupancy ≤ 32) — the first cut's fixed 8 lists exhausted local
    // disk at sfx1; the oracle's `nl` CTE derives the IDENTICAL count
    // pin = EAGER localCheckpoint (the Graph per-round convention), not
    // lazy persist: the Lloyd loop pins per-round model tables, and a
    // persisted-but-lazy lineage kept nesting round over round — the
    // driver spent ~10x the cluster's task time re-canonicalizing the
    // deep cached plans (measured 547 s wall over 37 task-seconds at
    // sf0.1); checkpoint truncation makes planning flat per round
    "cosine_topk_ivf" -> ((s, dir) =>
      gate(graft.ext.SparseAnn.topSimilarIvf(analysis(s), supplierPartMatrix(s, dir), 5,
        pin = _.localCheckpoint()), "vector", "rank")),
    // the route's occupancy self-audit: per inverted list, assigned
    // count + the enforced sub-split factor (n_sub = ceil(occ/32); 1 =
    // cap inert) — the readout that measured the sfx1 Lloyd collapse
    "cosine_ivf_occupancy" -> ((s, dir) =>
      gate(graft.ext.SparseAnn.listOccupancyIvf(analysis(s), supplierPartMatrix(s, dir),
        pin = _.localCheckpoint()), "cid")),
    // the route's self-audit: per-vector recall of the IVF top-5 against
    // the exact dense top-5 (the ann_recall contract for this route)
    "cosine_topk_ivf_recall" -> ((s, dir) => {
      val a = analysis(s)
      val m = supplierPartMatrix(s, dir)
      val exact = a.fit(m, isSparse = false).topSimilar(5)
        .select(col("vector").as("query_id"), col("neighbor").as("vec_id"))
      val ivf = graft.ext.SparseAnn.topSimilarIvf(a, m, 5, pin = _.localCheckpoint())
        .select(col("vector").as("query_id"), col("neighbor").as("vec_id"))
      gate(graft.ext.Embeddings.recallAtK(exact, ivf)
        .withColumnRenamed("query_id", "vector"), "vector")
    }),
    // THE CLUSTERED-FIXTURE ROUTE SHOOTOUT (VERDICT r9 ask #1): the same
    // top-k contract on the planted multi-mode matrix — exact dense
    // C(V,2) path vs the sign-LSH route vs the IVF route, all three
    // oracle-checked and timed side by side by Bench. Cross-cluster
    // cosine is exactly 0 by construction, so this is the regime the
    // candidate routes exist for; the committed bench row is the
    // measured answer to "does any ANN route ever win".
    "cosine_topk_clustered" -> ((s, dir) =>
      gate(analysis(s).fit(clusteredSupplierMatrix(s, dir), isSparse = false)
        .topSimilar(5), "vector", "rank")),
    "cosine_topk_clustered_ivf" -> ((s, dir) =>
      gate(graft.ext.SparseAnn.topSimilarIvf(analysis(s),
        clusteredSupplierMatrix(s, dir), 5,
        pin = _.localCheckpoint()), "vector", "rank")),
    // the clustered fixture's occupancy audit: a REAL multi-mode corpus
    // should show occupancies near the <= 32 target with the sub-split
    // cap inert (n_sub = 1) — the counter-exhibit to the single-mode
    // Lloyd collapse cosine_ivf_occupancy measured at sfx1
    "cosine_clustered_occupancy" -> ((s, dir) =>
      gate(graft.ext.SparseAnn.listOccupancyIvf(analysis(s),
        clusteredSupplierMatrix(s, dir), pin = _.localCheckpoint()), "cid")),
    // per-vector recall of the clustered IVF top-5 vs the exact dense
    // top-5 — the audit floor the bench row is conditioned on
    "cosine_clustered_ivf_recall" -> ((s, dir) => {
      val a = analysis(s)
      val m = clusteredSupplierMatrix(s, dir)
      val exact = a.fit(m, isSparse = false).topSimilar(5)
        .select(col("vector").as("query_id"), col("neighbor").as("vec_id"))
      val ivf = graft.ext.SparseAnn.topSimilarIvf(a, m, 5, pin = _.localCheckpoint())
        .select(col("vector").as("query_id"), col("neighbor").as("vec_id"))
      gate(graft.ext.Embeddings.recallAtK(exact, ivf)
        .withColumnRenamed("query_id", "vector"), "vector")
    }),
    // document-frequency cap before alignment (the Zipf-head scale guard)
    "aligned_pairs_dfcap" -> ((s, dir) => {
      val a = analysis(s)
      gate(a.alignedPairs(a.dfCap(a.normalize(supplierPartMatrix(s, dir)), DfCapMax)).toDF(),
        "vector0", "vector1", "prediction_axis")
    }),
    // salted (triangle-bucket) alignment: same rows as aligned_pairs,
    // skew-proof physical plan — shares aligned_pairs' oracle
    "aligned_pairs_salted" -> ((s, dir) => {
      val a = analysis(s)
      gate(a.alignedPairsSalted(a.normalize(supplierPartMatrix(s, dir)), salts = 8).toDF(),
        "vector0", "vector1", "prediction_axis")
    }),
    // the PLANTED-SKEW twins (VERDICT r6 ask #4): the same alignment on a
    // matrix whose hot coordinate sits in ~30% of vectors — plain hands
    // the whole C(n,2) head to one task, salted splits it; both derive the
    // same rows (shared oracle), and Bench times them side by side
    "aligned_pairs_skew" -> ((s, dir) => {
      val a = analysis(s)
      gate(a.alignedPairs(a.normalize(skewedCustomerMatrix(s, dir))).toDF(),
        "vector0", "vector1", "prediction_axis")
    }),
    "aligned_pairs_skew_salted" -> ((s, dir) => {
      val a = analysis(s)
      gate(a.alignedPairsSalted(a.normalize(skewedCustomerMatrix(s, dir)), salts = 8).toDF(),
        "vector0", "vector1", "prediction_axis")
    }),
    // THE MITIGATION TWIN of the skew exhibit (r12, VERDICT r11 ask #1):
    // the dfCap route a real Zipf-head doc-term matrix must take, over
    // the SAME planted-skew fixture the uncapped exhibit prices. The cap
    // (64) sits above the fixture's organic per-part df (~30 at every
    // scale — ScaleUp offsets part keys per replica, so organic df is
    // scale-CONSTANT) and below the planted head (0.6·customers, which
    // GROWS with sf) — so the cap excises exactly the head: the capped
    // pair surface measures 8.98M / 89.8M / 898M across sf0.1→sfx10
    // (linear by construction) while the uncapped exhibit's C(df,2)
    // head grows 100×/decade (405.8B pairs at sfx10, 99.78% excised).
    // This is the dedup_jaccard_prefix_head_capped pattern for the
    // cosine core.
    "aligned_pairs_skew_dfcap" -> ((s, dir) => {
      val a = analysis(s)
      gate(a.alignedPairs(
          a.dfCap(a.normalize(skewedCustomerMatrix(s, dir)), SkewDfCapMax)).toDF(),
        "vector0", "vector1", "prediction_axis")
    }),
    // THE COSINE-CORE KERNEL ROUTER (r13, VERDICT r12 ask #1): "which
    // alignment kernel do I run on 100 TB" answered from the measured
    // Σ C(df,2) / C(max_df,2) surfaces — one decision row per planted
    // regime, the CHOICE flipping across them: the organic customer×part
    // matrix fits the vector-linear budget with a flat df profile
    // (→ exact); the same matrix with a planted 60 % boilerplate head
    // goes over budget while the df cap retains ~94 % of its cells
    // (→ dfcap — exactly aligned_pairs_skew's regime); and a
    // sparse-support matrix whose ONLY pair surface is one √N-df hot
    // coordinate (perfect-square custkeys — df grows as √N, so C(df,2)
    // stays matrix-LINEAR and the choice is scale-stable) is affordable
    // but >⅔-concentrated (→ salted). Integer arithmetic end to end;
    // the oracle replays the ladder verbatim.
    "cosine_auto" -> ((s, dir) =>
      gate(graft.core.CosineAnalysis.autoRouteAligned(
        autoRegimeCells(s, dir), "y", "x", "regime"), "regime"))
  )

  /** cosine_auto's planted three-regime cell table (the dedup_auto
    * fixture pattern): one row per (regime, vector, coordinate) cell.
    * `benign` = the organic customer×part support; `headed` = the same
    * plus 4 hot coordinates planted into 60 % of customers (the
    * skewedCustomerMatrix head, wide enough to clear the budget at
    * sf0.01); `skewed` = one private coordinate per customer (df = 1 —
    * zero pairs) plus one hot coordinate on perfect-square custkeys
    * (⌊√k⌋² = k — IEEE sqrt of a perfect square ≤ 2^52 is exact, so the
    * predicate is engine-neutral). */
  private def autoRegimeCells(s: SparkSession, dir: String): DataFrame = {
    val ord = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val custs = ord.select(col("o_custkey")).distinct()
    val organic = EntryUtil.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("string").as("y"),
        col("l_partkey").cast("string").as("x"))
      .distinct()
    val sq = floor(sqrt(col("o_custkey"))).cast("long")
    organic.withColumn("regime", lit("benign"))
      .unionByName(organic.withColumn("regime", lit("headed")))
      .unionByName(custs.where(pmod(col("o_custkey"), lit(10)) < 6)
        .select(col("o_custkey").cast("string").as("y"),
          explode(array((0 until AutoHotCoords).map(h => lit(s"hot$h")): _*)).as("x"))
        .withColumn("regime", lit("headed")))
      .unionByName(custs
        .select(col("o_custkey").cast("string").as("y"),
          concat(lit("p"), col("o_custkey").cast("string")).as("x"))
        .withColumn("regime", lit("skewed")))
      .unionByName(custs.where(sq * sq === col("o_custkey"))
        .select(col("o_custkey").cast("string").as("y"), lit("hot").as("x"))
        .withColumn("regime", lit("skewed")))
      .select("regime", "y", "x")
  }

  /** Planted hot-coordinate count of cosine_auto's headed regime: 4 ×
    * C(0.6·N, 2) clears the vector-linear budget already at sf0.01
    * (measured 2.50M vs the 1.50M budget; one coordinate alone, 404k,
    * would not). */
  private val AutoHotCoords = 4

  /** df cap for aligned_pairs_dfcap — prunes the head coordinates at every sf. */
  private val DfCapMax = 20L

  /** df cap of the skew mitigation twin: above the fixture's organic
    * per-part df (scale-constant ~30), below the planted 60% head. */
  private val SkewDfCapMax = 64L

  /** Shared oracle CTE chain mirroring the pipeline stage by stage —
    * suffix appended to a matrix CTE prefix (`m(y, x, v)`), so the same
    * chain replays over the supplier, skew, and clustered fixtures. */
  private val pipelineChainSql: String = """,
    |mx AS (SELECT y, MAX(v) AS mv FROM m GROUP BY y),
    |n AS (SELECT m.y, m.x, m.v / mx.mv AS nv FROM m JOIN mx ON m.y = mx.y),
    |p AS (SELECT a.y AS vector0, b.y AS vector1, a.x AS coord, a.nv AS v1, b.nv AS v2
    |      FROM n a JOIN n b ON a.x = b.x AND a.y > b.y),
    |vm AS (SELECT y AS vector, sqrt(SUM(nv*nv)) AS md FROM n GROUP BY y),
    |dmods AS (SELECT a.vector AS vector0, b.vector AS vector1, a.md AS mod1, b.md AS mod2
    |          FROM vm a JOIN vm b ON a.vector > b.vector),
    |smods AS (SELECT vector0, vector1, sqrt(SUM(v1*v1)) AS mod1, sqrt(SUM(v2*v2)) AS mod2
    |          FROM p GROUP BY 1, 2),
    |num AS (SELECT vector0, vector1, SUM(v1*v2) AS numtr FROM p GROUP BY 1, 2)""".stripMargin

  private val pipelineSql: String = matrixSql + pipelineChainSql

  /** The identical chain over the clustered multi-mode fixture. */
  private val clusteredPipelineSql: String = clusteredMatrixSql + pipelineChainSql

  private val subsetList = subsetIds.map(v => s"'$v'").mkString("(", ", ", ")")

  /** Normalize + align over the planted-skew customer matrix — shared by
    * both skew twins (they derive identical rows by different plans). */
  private val skewAlignedSql: String = skewMatrixSql + """,
    |mx AS (SELECT y, MAX(v) AS mv FROM m GROUP BY y),
    |n AS (SELECT m.y, m.x, m.v / mx.mv AS nv FROM m JOIN mx ON m.y = mx.y),
    |p AS (SELECT a.y AS vector0, b.y AS vector1, a.x AS coord, a.nv AS v1, b.nv AS v2
    |      FROM n a JOIN n b ON a.x = b.x AND a.y > b.y)
    |SELECT vector0, vector1, coord AS prediction_axis,
    |       floor((v1)*1e6 + 0.50001)/1e6 AS value1,
    |       floor((v2)*1e6 + 0.50001)/1e6 AS value2
    |FROM p ORDER BY vector0, vector1, prediction_axis""".stripMargin

  /** IVF candidate chain mirroring graft.ext.SparseAnn.candidateSimsIvf
    * stage by stage: hashed features → seeded, unrolled Lloyd rounds
    * (snapped centroids and distances) → symmetric nprobe candidates →
    * exact snapped cosine over the pipeline's vm/num CTEs, symmetrized
    * as `icsym`. */
  private val ivfFitSql: String = {
    import graft.ext.SparseAnn.{IvfDim, IvfIters, IvfLists, IvfNprobe,
      ListOccupancy, MaxListDoublings, ivfDimSqlDuck}
    // 1-row derived list count, mirroring graft.ext.SparseAnn.deriveLists
    // with pure integer compares: nl = 8 << Σ_{i=0}^{13} [n > 256·2^i]
    // over the SAME COUNT(DISTINCT vector) the Spark side runs
    val nlTerms = (0 until MaxListDoublings)
      .map(i => s"(CASE WHEN nv.n > ${(IvfLists.toLong * ListOccupancy) << i} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val rounds = (1 to IvfIters).map { i =>
      val cent = s"cent${i - 1}"
      val update =
        if (i == IvfIters) ""
        else s""",
          |ias$i AS MATERIALIZED (SELECT y, cid FROM
          |  (SELECT y, cid, row_number() OVER (PARTITION BY y ORDER BY d2, cid) AS rn
          |   FROM d$i) WHERE rn = 1),
          |isz$i AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS cn FROM ias$i GROUP BY 1),
          |cent$i AS MATERIALIZED (
          |  SELECT a.cid, hh.j, floor((SUM(hh.hv) / sz.cn)*1e6 + 0.50001)/1e6 AS c
          |  FROM hh JOIN ias$i a USING (y) JOIN isz$i sz ON sz.cid = a.cid
          |  GROUP BY a.cid, hh.j, sz.cn)""".stripMargin
      s"""cd$i AS MATERIALIZED (
        |  SELECT cc.cid, rng.j, COALESCE(c.c, 0.0) AS c
        |  FROM (SELECT DISTINCT cid FROM $cent) cc CROSS JOIN rng
        |  LEFT JOIN $cent c ON c.cid = cc.cid AND c.j = rng.j),
        |ic2$i AS (SELECT cid, SUM(c*c) AS c2 FROM cd$i GROUP BY 1),
        |idt$i AS (SELECT hh.y, cd$i.cid, SUM(hh.hv * cd$i.c) AS dot
        |          FROM hh JOIN cd$i USING (j) GROUP BY 1, 2),
        |d$i AS MATERIALIZED (
        |  SELECT t.y, t.cid,
        |         floor((x2.x2 + c.c2 - 2*t.dot)*1e6 + 0.50001)/1e6 AS d2
        |  FROM idt$i t JOIN x2 USING (y) JOIN ic2$i c USING (cid))$update""".stripMargin
    }.mkString(",\n")
    s""",
      |hh AS MATERIALIZED (SELECT y, CAST(${ivfDimSqlDuck("x", IvfDim)} AS BIGINT) AS j,
      |             SUM(nv) AS hv FROM n GROUP BY 1, 2),
      |x2 AS MATERIALIZED (SELECT y, SUM(hv*hv) AS x2 FROM hh GROUP BY 1),
      |nl AS MATERIALIZED (SELECT CAST($IvfLists * (1 << ($nlTerms)) AS BIGINT) AS nl
      |  FROM (SELECT CAST(COUNT(DISTINCT y) AS BIGINT) AS n FROM n) nv),
      |sd AS MATERIALIZED (SELECT y, CAST(rn - 1 AS BIGINT) AS cid FROM
      |  (SELECT y, row_number() OVER (ORDER BY y) AS rn
      |   FROM (SELECT DISTINCT y FROM hh)) WHERE rn <= (SELECT nl FROM nl)),
      |rng AS (SELECT CAST(unnest(range(0, $IvfDim)) AS BIGINT) AS j),
      |cent0 AS MATERIALIZED (SELECT sd.cid, hh.j, hh.hv AS c FROM hh JOIN sd USING (y)),
      |$rounds,
      |rkq AS MATERIALIZED (SELECT y, cid,
      |        row_number() OVER (PARTITION BY y ORDER BY d2, cid) AS rn
      |      FROM d$IvfIters),
      |iasg AS MATERIALIZED (SELECT y, cid FROM rkq WHERE rn = 1),
      |iprb AS MATERIALIZED (SELECT y, cid FROM rkq WHERE rn <= $IvfNprobe),
      |insb AS MATERIALIZED (SELECT cid,
      |         CAST(((COUNT(*) - 1) // $ListOccupancy) + 1 AS BIGINT) AS n_sub
      |       FROM iasg GROUP BY 1)""".stripMargin
  }

  /** The candidate tail of the IVF chain (sub-split join + exact snapped
    * cosine over vm/num, symmetrized as `icsym`) — appended to
    * [[ivfFitSql]] for the topk/recall oracles; the occupancy audit
    * stops at the fit. */
  private val ivfCandSql: String = {
    import graft.ext.SparseAnn.IvfSubSalt
    ivfFitSql + s""",
      |iasgs AS MATERIALIZED (SELECT a.y, a.cid,
      |         (${graft.ext.TextHash.avalancheSql(graft.ext.TextHash.charFoldDuck("a.y"), IvfSubSalt)}) % s.n_sub AS sub
      |       FROM iasg a JOIN insb s USING (cid)),
      |iprbs AS MATERIALIZED (SELECT p.y, p.cid,
      |         (${graft.ext.TextHash.avalancheSql(graft.ext.TextHash.charFoldDuck("p.y"), IvfSubSalt)}) % s.n_sub AS sub
      |       FROM iprb p JOIN insb s USING (cid)),
      |icand AS MATERIALIZED (
      |  SELECT DISTINCT v0 AS vector0, v1 AS vector1 FROM (
      |    SELECT p.y AS v0, a.y AS v1 FROM iprbs p JOIN iasgs a USING (cid, sub)
      |    WHERE p.y > a.y
      |    UNION ALL
      |    SELECT a.y AS v0, p.y AS v1 FROM iasgs a JOIN iprbs p USING (cid, sub)
      |    WHERE a.y > p.y)),
      |icsim AS (SELECT c.vector0, c.vector1,
      |                 floor(COALESCE(num.numtr / (va.md * vb.md), 0.0)*1e6 + 0.50001)/1e6 AS s
      |          FROM icand c
      |          JOIN vm va ON va.vector = c.vector0
      |          JOIN vm vb ON vb.vector = c.vector1
      |          LEFT JOIN num ON num.vector0 = c.vector0 AND num.vector1 = c.vector1),
      |icsym AS (SELECT vector0 AS v, vector1 AS u, s FROM icsim
      |          UNION ALL SELECT vector1 AS v, vector0 AS u, s FROM icsim)""".stripMargin
  }

  /** Dense sims snapped + symmetrized, shared by the topk/predict oracles. */
  private val symSimsSql: String = """,
    |sims AS (SELECT d.vector0, d.vector1,
    |                floor(COALESCE(num.numtr / (d.mod1 * d.mod2), 0.0)*1e6 + 0.50001)/1e6 AS s
    |         FROM num RIGHT JOIN dmods d USING (vector0, vector1)),
    |sym AS (SELECT vector0 AS v, vector1 AS u, s FROM sims
    |        UNION ALL SELECT vector1 AS v, vector0 AS u, s FROM sims)""".stripMargin

  val oracles: Map[String, String] = Map(
    "max_values" ->
      (matrixSql + "\nSELECT y AS axis, floor((MAX(v))*1e6 + 0.50001)/1e6 AS max_value FROM m GROUP BY y ORDER BY axis"),
    "normalize" ->
      (pipelineSql + "\nSELECT y, x, floor((nv)*1e6 + 0.50001)/1e6 AS normalized_value FROM n ORDER BY y, x"),
    "normalize_omit" ->
      (pipelineSql + "\nSELECT y, x, floor((nv)*1e6 + 0.50001)/1e6 AS normalized_value FROM n WHERE nv > 0.5 ORDER BY y, x"),
    "vector_mods" ->
      (pipelineSql + "\nSELECT vector, floor((md)*1e6 + 0.50001)/1e6 AS \"mod\" FROM vm ORDER BY vector"),
    "aligned_pairs" ->
      (pipelineSql + "\nSELECT vector0, vector1, coord AS prediction_axis, floor((v1)*1e6 + 0.50001)/1e6 AS value1, floor((v2)*1e6 + 0.50001)/1e6 AS value2 FROM p ORDER BY vector0, vector1, prediction_axis"),
    "aligned_pairs_dfcap" ->
      (pipelineSql + s""",
        |keep AS (SELECT x FROM n GROUP BY x HAVING COUNT(*) <= $DfCapMax),
        |nf AS (SELECT n.y, n.x, n.nv FROM n JOIN keep USING (x)),
        |pf AS (SELECT a.y AS vector0, b.y AS vector1, a.x AS coord, a.nv AS v1, b.nv AS v2
        |       FROM nf a JOIN nf b ON a.x = b.x AND a.y > b.y)
        |SELECT vector0, vector1, coord AS prediction_axis,
        |       floor((v1)*1e6 + 0.50001)/1e6 AS value1,
        |       floor((v2)*1e6 + 0.50001)/1e6 AS value2
        |FROM pf ORDER BY vector0, vector1, prediction_axis""".stripMargin),
    "aligned_pairs_salted" ->
      (pipelineSql + "\nSELECT vector0, vector1, coord AS prediction_axis, floor((v1)*1e6 + 0.50001)/1e6 AS value1, floor((v2)*1e6 + 0.50001)/1e6 AS value2 FROM p ORDER BY vector0, vector1, prediction_axis"),
    "aligned_pairs_skew" -> skewAlignedSql,
    "aligned_pairs_skew_salted" -> skewAlignedSql,
    "aligned_pairs_skew_dfcap" -> (skewMatrixSql + s""",
      |mx AS (SELECT y, MAX(v) AS mv FROM m GROUP BY y),
      |n AS (SELECT m.y, m.x, m.v / mx.mv AS nv FROM m JOIN mx ON m.y = mx.y),
      |keep AS (SELECT x FROM n GROUP BY x HAVING COUNT(*) <= $SkewDfCapMax),
      |nf AS (SELECT n.y, n.x, n.nv FROM n JOIN keep USING (x)),
      |pf AS (SELECT a.y AS vector0, b.y AS vector1, a.x AS coord, a.nv AS v1, b.nv AS v2
      |       FROM nf a JOIN nf b ON a.x = b.x AND a.y > b.y)
      |SELECT vector0, vector1, coord AS prediction_axis,
      |       floor((v1)*1e6 + 0.50001)/1e6 AS value1,
      |       floor((v2)*1e6 + 0.50001)/1e6 AS value2
      |FROM pf ORDER BY vector0, vector1, prediction_axis""".stripMargin),
    // the cosine-core kernel router: the three-regime cell fixture
    // rebuilt verbatim, then the integer rule ladder replayed
    "cosine_auto" -> {
      val cap = graft.core.CosineAnalysis.AutoAlignMaxDf
      val bud = graft.core.CosineAnalysis.AutoAlignBudgetPerVec
      val hn = graft.core.CosineAnalysis.AutoAlignHotNum
      val hd = graft.core.CosineAnalysis.AutoAlignHotDen
      s"""WITH base AS MATERIALIZED (
        |  SELECT CAST(o.o_custkey AS VARCHAR) AS y,
        |         CAST(l.l_partkey AS VARCHAR) AS x
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |custs AS MATERIALIZED (SELECT DISTINCT o_custkey FROM orders),
        |cells AS (
        |  SELECT 'benign' AS regime, y, x FROM base
        |  UNION ALL SELECT 'headed', y, x FROM base
        |  UNION ALL
        |  SELECT 'headed', CAST(o_custkey AS VARCHAR),
        |         'hot' || CAST(h AS VARCHAR)
        |  FROM custs, UNNEST(range($AutoHotCoords)) r(h)
        |  WHERE o_custkey % 10 < 6
        |  UNION ALL
        |  SELECT 'skewed', CAST(o_custkey AS VARCHAR),
        |         'p' || CAST(o_custkey AS VARCHAR) FROM custs
        |  UNION ALL
        |  SELECT 'skewed', CAST(o_custkey AS VARCHAR), 'hot' FROM custs
        |  WHERE CAST(floor(sqrt(o_custkey)) AS BIGINT)
        |        * CAST(floor(sqrt(o_custkey)) AS BIGINT) = o_custkey),
        |${pairSurfaceSql("cells", "regime", "x", cap)},
        |nv AS (SELECT regime, CAST(COUNT(DISTINCT y) AS BIGINT) AS n_vectors
        |       FROM cells GROUP BY 1)
        |SELECT a.regime, nv.n_vectors, a.postings, a.max_df,
        |  CAST(a.max_df * (a.max_df - 1) // 2 AS BIGINT) AS hot_pairs,
        |  a.uncapped_pairs, a.capped_pairs, a.retained_postings,
        |  CAST(nv.n_vectors * $bud AS BIGINT) AS budget_pairs,
        |  CASE WHEN a.uncapped_pairs <= nv.n_vectors * $bud
        |            AND a.max_df * (a.max_df - 1) // 2 * $hn
        |                <= a.uncapped_pairs * $hd THEN 'exact'
        |       WHEN a.uncapped_pairs <= nv.n_vectors * $bud THEN 'salted'
        |       ELSE 'dfcap' END AS kernel
        |FROM agg a JOIN nv USING (regime) ORDER BY regime""".stripMargin
    },
    "pair_mods_sparse" ->
      (pipelineSql + "\nSELECT vector0, vector1, floor((mod1)*1e6 + 0.50001)/1e6 AS mod1, floor((mod2)*1e6 + 0.50001)/1e6 AS mod2 FROM smods ORDER BY vector0, vector1"),
    "pair_mods_dense" ->
      (pipelineSql + "\nSELECT vector0, vector1, floor((mod1)*1e6 + 0.50001)/1e6 AS mod1, floor((mod2)*1e6 + 0.50001)/1e6 AS mod2 FROM dmods ORDER BY vector0, vector1"),
    "pair_dot" ->
      (pipelineSql + "\nSELECT vector0, vector1, floor((numtr)*1e6 + 0.50001)/1e6 AS dot FROM num ORDER BY vector0, vector1"),
    "cosine_sparse_all" ->
      (pipelineSql + """
        |SELECT s.vector0, s.vector1,
        |       floor(COALESCE(num.numtr / (s.mod1 * s.mod2), 0.0)*1e6 + 0.50001)/1e6 AS similarity_value
        |FROM num RIGHT JOIN smods s USING (vector0, vector1)
        |ORDER BY vector0, vector1""".stripMargin),
    "cosine_dense_all" ->
      (pipelineSql + """
        |SELECT d.vector0, d.vector1,
        |       floor(COALESCE(num.numtr / (d.mod1 * d.mod2), 0.0)*1e6 + 0.50001)/1e6 AS similarity_value
        |FROM num RIGHT JOIN dmods d USING (vector0, vector1)
        |ORDER BY vector0, vector1""".stripMargin),
    "cosine_subset" ->
      (pipelineSql + s"""
        |SELECT d.vector0, d.vector1,
        |       floor(COALESCE(num.numtr / (d.mod1 * d.mod2), 0.0)*1e6 + 0.50001)/1e6 AS similarity_value
        |FROM num RIGHT JOIN dmods d USING (vector0, vector1)
        |WHERE d.vector0 IN $subsetList AND d.vector1 IN $subsetList
        |ORDER BY vector0, vector1""".stripMargin),
    "cosine_topk" ->
      (pipelineSql + symSimsSql + """,
        |rk AS (SELECT v, u, s, row_number() OVER (PARTITION BY v ORDER BY s DESC, u) AS rn
        |       FROM sym)
        |SELECT v AS vector, CAST(rn AS BIGINT) AS rank, u AS neighbor, s AS similarity_value
        |FROM rk WHERE rn <= 5 ORDER BY vector, rank""".stripMargin),
    // the fit chain's per-list readout, stopping at insb
    "cosine_ivf_occupancy" ->
      (pipelineSql + ivfFitSql + """
        |SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS occ, s.n_sub
        |FROM iasg a JOIN insb s USING (cid)
        |GROUP BY a.cid, s.n_sub ORDER BY cid""".stripMargin),
    // the IVF candidate rule's ranked readout over the icsym chain
    "cosine_topk_ivf" ->
      (pipelineSql + ivfCandSql + """,
        |irk AS (SELECT v, u, s, row_number() OVER (PARTITION BY v ORDER BY s DESC, u) AS rn
        |        FROM icsym)
        |SELECT v AS vector, CAST(rn AS BIGINT) AS rank, u AS neighbor, s AS similarity_value
        |FROM irk WHERE rn <= 5 ORDER BY vector, rank""".stripMargin),
    // per-vector overlap of the IVF top-5 with the exact dense top-5 —
    // both chains replayed, joined on (vector, neighbor)
    "cosine_topk_ivf_recall" ->
      (pipelineSql + symSimsSql + ivfCandSql + """,
        |xrk AS (SELECT v, u, row_number() OVER (PARTITION BY v ORDER BY s DESC, u) AS rn
        |        FROM sym),
        |tt AS (SELECT v, u FROM xrk WHERE rn <= 5),
        |irk AS (SELECT v, u, row_number() OVER (PARTITION BY v ORDER BY s DESC, u) AS rn
        |        FROM icsym),
        |aa AS (SELECT v, u FROM irk WHERE rn <= 5),
        |hits AS (SELECT tt.v, CAST(COUNT(*) AS BIGINT) AS hits
        |         FROM tt JOIN aa ON aa.v = tt.v AND aa.u = tt.u GROUP BY 1),
        |kk AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS k FROM tt GROUP BY 1)
        |SELECT kk.v AS vector, kk.k, CAST(COALESCE(hits.hits, 0) AS BIGINT) AS hits,
        |       floor((CAST(COALESCE(hits.hits, 0) AS DOUBLE) / kk.k)*1e6 + 0.50001)/1e6 AS recall
        |FROM kk LEFT JOIN hits ON hits.v = kk.v ORDER BY vector""".stripMargin),
    // the clustered-fixture shootout: the SAME chains (exact sym-sims,
    // sign-LSH candidates, IVF fit + candidates) replayed over the
    // multi-mode matrix prefix
    "cosine_topk_clustered" ->
      (clusteredPipelineSql + symSimsSql + """,
        |rk AS (SELECT v, u, s, row_number() OVER (PARTITION BY v ORDER BY s DESC, u) AS rn
        |       FROM sym)
        |SELECT v AS vector, CAST(rn AS BIGINT) AS rank, u AS neighbor, s AS similarity_value
        |FROM rk WHERE rn <= 5 ORDER BY vector, rank""".stripMargin),
    "cosine_topk_clustered_ivf" ->
      (clusteredPipelineSql + ivfCandSql + """,
        |irk AS (SELECT v, u, s, row_number() OVER (PARTITION BY v ORDER BY s DESC, u) AS rn
        |        FROM icsym)
        |SELECT v AS vector, CAST(rn AS BIGINT) AS rank, u AS neighbor, s AS similarity_value
        |FROM irk WHERE rn <= 5 ORDER BY vector, rank""".stripMargin),
    "cosine_clustered_occupancy" ->
      (clusteredPipelineSql + ivfFitSql + """
        |SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS occ, s.n_sub
        |FROM iasg a JOIN insb s USING (cid)
        |GROUP BY a.cid, s.n_sub ORDER BY cid""".stripMargin),
    "cosine_clustered_ivf_recall" ->
      (clusteredPipelineSql + symSimsSql + ivfCandSql + """,
        |xrk AS (SELECT v, u, row_number() OVER (PARTITION BY v ORDER BY s DESC, u) AS rn
        |        FROM sym),
        |tt AS (SELECT v, u FROM xrk WHERE rn <= 5),
        |irk AS (SELECT v, u, row_number() OVER (PARTITION BY v ORDER BY s DESC, u) AS rn
        |        FROM icsym),
        |aa AS (SELECT v, u FROM irk WHERE rn <= 5),
        |hits AS (SELECT tt.v, CAST(COUNT(*) AS BIGINT) AS hits
        |         FROM tt JOIN aa ON aa.v = tt.v AND aa.u = tt.u GROUP BY 1),
        |kk AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS k FROM tt GROUP BY 1)
        |SELECT kk.v AS vector, kk.k, CAST(COALESCE(hits.hits, 0) AS BIGINT) AS hits,
        |       floor((CAST(COALESCE(hits.hits, 0) AS DOUBLE) / kk.k)*1e6 + 0.50001)/1e6 AS recall
        |FROM kk LEFT JOIN hits ON hits.v = kk.v ORDER BY vector""".stripMargin),
    // cosine_predict's CF tail over the IVF candidate CTE chain
    "cosine_predict_ivf" ->
      (pipelineSql + ivfCandSql + """,
        |pos AS (SELECT v, u, s, row_number() OVER (PARTITION BY v ORDER BY s DESC, u) AS rn
        |        FROM icsym WHERE s > 0),
        |contrib AS (SELECT t.v, n.x AS coord, SUM(t.s * n.nv) / SUM(t.s) AS pv
        |            FROM pos t JOIN n ON n.y = t.u
        |            WHERE t.rn <= 5 GROUP BY 1, 2),
        |missing AS (SELECT c.v, c.coord, c.pv FROM contrib c
        |            WHERE NOT EXISTS (SELECT 1 FROM m
        |                              WHERE m.y = c.v AND m.x = c.coord))
        |SELECT v AS y, coord AS x, floor((pv)*1e6 + 0.50001)/1e6 AS predicted_value
        |FROM missing ORDER BY y, x""".stripMargin),
    "cosine_predict" ->
      (pipelineSql + symSimsSql + """,
        |pos AS (SELECT v, u, s, row_number() OVER (PARTITION BY v ORDER BY s DESC, u) AS rn
        |        FROM sym WHERE s > 0),
        |contrib AS (SELECT t.v, n.x AS coord, SUM(t.s * n.nv) / SUM(t.s) AS pv
        |            FROM pos t JOIN n ON n.y = t.u
        |            WHERE t.rn <= 5 GROUP BY 1, 2),
        |missing AS (SELECT c.v, c.coord, c.pv FROM contrib c
        |            WHERE NOT EXISTS (SELECT 1 FROM m
        |                              WHERE m.y = c.v AND m.x = c.coord))
        |SELECT v AS y, coord AS x, floor((pv)*1e6 + 0.50001)/1e6 AS predicted_value
        |FROM missing ORDER BY y, x""".stripMargin)
  )
}
