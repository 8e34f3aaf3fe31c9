package graft.entry

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core.MatrixElement

/**
 * Shared plumbing for the driver-contract queries in [[graft.SparkEntry]].
 *
 * Every declared query is compared against a DuckDB oracle by exact hash of
 * the result values, so the two sides must agree bit-for-bit. The rules that
 * make that hold (SURVEY.md §7.3(6c)):
 *
 *   - every double column is rounded to 6 decimals on BOTH sides, so
 *     sum-order nondeterminism (at most a few ulps here) can never flip a
 *     digit that survives the round;
 *   - every result is fully ordered by a unique key prefix on BOTH sides;
 *   - cross-engine hashing of strings/timestamps is avoided entirely —
 *     derived keys are either the input's own values or integer arithmetic
 *     that both engines execute exactly (see [[TextEntries]] for the
 *     character-arithmetic token hash that replaces murmur-style hashing).
 */
object EntryUtil {

  /**
   * Round every DoubleType column to 6 decimals and totally order the rows.
   *
   * Rounding is `floor(x*1e6 + 0.50001)/1e6` rather than the engine's
   * `round`, for two reasons observed on real data:
   *
   *   - Spark rounds via BigDecimal HALF_UP on the exact double expansion
   *     while DuckDB scales-and-std::rounds — they disagree near midpoints.
   *     floor/multiply/add are each exactly-rounded IEEE ops, so identical
   *     inputs give identical outputs in any engine.
   *   - With integer-valued inputs the aggregates are small-denominator
   *     rationals (dot products are N/(m1·m2)) that frequently sit EXACTLY
   *     on a .5 grid midpoint (e.g. 7.6328125 = 977·2⁻⁷); there, the two
   *     engines' sum-order noise (~1e-12) flips a bare `+0.5` floor with
   *     ~50% probability. The 1e-5 bias rounds exact midpoints up
   *     deterministically (bias ≫ noise), and the shifted danger zone
   *     0.49999 needs value denominators ≥ ~1e5 that these pipelines
   *     cannot produce.
   *
   * [[r6sql]] is the DuckDB spelling of the same function.
   */
  def gate(df: DataFrame, keys: String*): DataFrame = {
    val rounded = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == DoubleType)
        d.withColumn(f.name, floor(col(f.name) * lit(1e6) + lit(0.50001)) / lit(1e6))
      else d
    }
    rounded.orderBy(keys.map(col).toSeq: _*)
  }

  /** DuckDB spelling of [[gate]]'s rounding, for oracle SQL. */
  def r6sql(e: String): String = s"floor(($e)*1e6 + 0.50001)/1e6"

  /**
   * Coarse 2-decimal rounding for LARGE-magnitude money sums (the
   * relational fact rollups): a sum of ~10⁴-sized terms over ~10⁴ rows
   * carries ~1e-6 of cross-engine sum-order noise — exactly [[gate]]'s
   * grid — so those columns round to cents FIRST. Same floor-bias
   * construction, same reasoning, coarser grid.
   *
   * [[gate]] then r6-re-rounds the already-r2 value, and that second
   * round is NOT a no-op once y·1e6 approaches 2^52 (y ≳ 4.5e9): the
   * double grid there is coarser than 1e-6, so floor(y·1e6+0.50001)/1e6
   * can land off y. The Spark side therefore emits r6(r2(sum)), and
   * every oracle for an r2 column MUST spell the identical composition
   * — `r6sql(r2sql(...))` — never bare r2sql (ADVICE r6: bare r2sql
   * hash-mismatches deterministically for 25–100% of values in the
   * ~[4.4e9, 1.8e10] band).
   */
  def r2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(100.0) + lit(0.50001)) / lit(100.0)

  /** DuckDB spelling of [[r2]], for oracle SQL. */
  def r2sql(e: String): String = s"floor(($e)*100 + 0.50001)/100"

  /** The router oracles' spelling of [[graft.core.PairSurface.probe]]:
    * a `dfs` CTE counting (`groupCol`, `keyCol`) rows of `table`, and
    * an `agg` CTE folding it per group to postings, max_df,
    * uncapped_pairs, capped_pairs and retained_postings at `maxDf`.
    * Every sum is cast back to BIGINT (DuckDB types a bare SUM(BIGINT)
    * as HUGEINT). */
  def pairSurfaceSql(table: String, groupCol: String, keyCol: String,
      maxDf: Long): String =
    s"""dfs AS (SELECT $groupCol, $keyCol, CAST(COUNT(*) AS BIGINT) AS df
       |        FROM $table GROUP BY 1, 2),
       |agg AS (SELECT $groupCol,
       |  CAST(SUM(df) AS BIGINT) AS postings,
       |  CAST(MAX(df) AS BIGINT) AS max_df,
       |  CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS uncapped_pairs,
       |  CAST(SUM(CASE WHEN df <= $maxDf THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT) AS capped_pairs,
       |  CAST(SUM(CASE WHEN df <= $maxDf THEN df ELSE 0 END) AS BIGINT) AS retained_postings
       |  FROM dfs GROUP BY 1)""".stripMargin

  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")

  /**
   * The canonical test matrix for the cosine core: suppliers are vectors,
   * parts are coordinates, total shipped quantity is the cell value — a
   * supplier×part COO sparse matrix derived from lineitem, mirroring the
   * reference's doc×term matrix shape (KeyWordsDemo.scala:55,102) at a size
   * that scales with the driver's scale factor.
   */
  def supplierPartMatrix(spark: SparkSession, dir: String): Dataset[MatrixElement] = {
    import spark.implicits._
    lineitem(spark, dir)
      .groupBy(
        col("l_suppkey").cast("string").as("y"),
        col("l_partkey").cast("string").as("x"))
      .agg(sum($"l_quantity").as("value"))
      .as[MatrixElement]
  }

  /** The sign-LSH hyperplane table as a literal SQL VALUES list (the same
    * triples [[graft.ext.Embeddings.lshPlaneRows]] gives the Spark side —
    * both engines project onto identical planes). */
  def lshPlanesSql(dim: Int): String = graft.ext.Embeddings.lshPlaneRows(dim)
    .map { case (k, i, h) => s"($k, $i, $h)" }
    .mkString("(VALUES ", ", ", ") AS hp(k, i, h)")

  /** The signed-random-projection plane table as a literal SQL VALUES list
    * (the same triples [[graft.ext.Embeddings.projPlaneRows]] gives the
    * Spark side — both engines project onto identical planes). */
  def projPlanesSql(outDim: Int, dim: Int): String =
    graft.ext.Embeddings.projPlaneRows(outDim, dim)
      .map { case (j, i, h) => s"($j, $i, $h)" }
      .mkString("(VALUES ", ", ", ") AS hp(j, i, h)")

  /** Multi-probe masks (own bucket + each single sign bit flipped) as a
    * SQL VALUES list — mirrors the Spark side's Hamming-1 probe set. */
  val lshProbeMasksSql: String =
    (0L +: (0 until graft.ext.Embeddings.LshPlanes).map(j => 1L << j))
      .map(m => s"($m)").mkString("(VALUES ", ", ", ") AS v(mask)")

  /** DuckDB CTE mirroring [[supplierPartMatrix]] — prefix of every core oracle. */
  val matrixSql: String =
    """WITH m AS (
      |  SELECT CAST(l_suppkey AS VARCHAR) AS y, CAST(l_partkey AS VARCHAR) AS x,
      |         CAST(SUM(l_quantity) AS DOUBLE) AS v
      |  FROM lineitem GROUP BY 1, 2
      |)""".stripMargin

  /**
   * The planted-skew matrix (VERDICT r6 ask #4): a customer×part COO
   * matrix (orders⋈lineitem — ~10× more vectors than the supplier
   * matrix) with ONE synthetic coordinate `hot` planted into ~60% of
   * vectors (custkey % 10 < 6). This is the Zipf-head regime the salted
   * aligner exists for: the hot coordinate alone contributes
   * C(0.6·customers, 2) aligned pairs, and the plain coordinate
   * self-equi-join hands ALL of them to the single task owning
   * hash("hot"), while [[graft.core.CosineAnalysis.alignedPairsSalted]]
   * splits them across its S(S+1)/2 triangle tasks. Benchmarked under
   * both plans (aligned_pairs_skew / aligned_pairs_skew_salted) so the
   * skew trade is measured, not argued.
   *
   * Measured crossover (sf0.1, local[32], AQE on, S = 8): at a 30% head
   * — C(4.5k,2) ≈ 10M of 19M pairs in the hot task — the PLAIN join
   * still wins (~2.9 s vs ~3.6 s): salting replicates every input row
   * S+1 times into the shuffle, and that fixed cost outweighs one
   * medium-hot task. At this fixture's 60% head — C(9k,2) ≈ 40M of 49M
   * pairs in one task — the hot task dominates the wall and salting wins
   * ~2.5× (~2.7 s vs ~5.5-7 s). Rule of thumb the pair carries: salt
   * when the head coordinate's C(df,2) clearly exceeds the total
   * expansion divided by the task count; otherwise the plain exchange +
   * AQE is cheaper.
   */
  def skewedCustomerMatrix(spark: SparkSession, dir: String): Dataset[MatrixElement] = {
    import spark.implicits._
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val base = lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        col("o_custkey").cast("string").as("y"),
        col("l_partkey").cast("string").as("x"))
      .agg(sum(col("l_quantity")).as("value"))
    val hot = ord.select(col("o_custkey")).distinct()
      .where(pmod(col("o_custkey"), lit(10)) < 6)
      .select(col("o_custkey").cast("string").as("y"),
        lit("hot").as("x"), lit(1000.0).as("value"))
    base.unionByName(hot).as[MatrixElement]
  }

  /** Coordinate-cluster count / within-cluster coordinate width of
    * [[clusteredSupplierMatrix]] (contract constants, oracle-mirrored). */
  val ClusterModes = 32
  val ClusterCoords = 64

  /**
   * The planted MULTI-MODE (clustered) matrix (VERDICT r9 ask #1): a
   * supplier×coordinate COO matrix whose coordinate space is partitioned
   * into [[ClusterModes]] DISJOINT blocks — supplier y draws coordinates
   * ONLY from block `y % ClusterModes` (coordinate id = cluster·1000 +
   * partkey % [[ClusterCoords]]), so cross-cluster vectors share NO
   * coordinate and their dense cosine is exactly 0, while within-cluster
   * vectors share most of their 64-coordinate support with positive
   * values (high cosine). This is the "corpus with real cluster
   * structure" regime the sparse-ANN routes exist for, which no prior
   * fixture provided: every earlier matrix was single-mode (all vectors
   * near-parallel to the mean), where Lloyd collapses and sign bits
   * correlate — the regime where the routes measurably LOSE. Here the
   * exact dense path still materializes all C(V,2) pairs (mostly the
   * zeros), while a candidate route only ever examines within-mode
   * neighborhoods — the structural gap the ANN family is supposed to
   * exploit, now measurable (Bench times exact vs sign-LSH vs IVF on
   * this fixture side by side).
   *
   * Scale shape under [[graft.ScaleUp]]: key offsets are multiples of
   * 10M ≡ 0 (mod 32 and 64), so every replica's suppliers land in the
   * SAME cluster blocks — cluster populations scale linearly, coordinate
   * count stays fixed at 32·64 = 2048.
   */
  def clusteredSupplierMatrix(spark: SparkSession, dir: String): Dataset[MatrixElement] = {
    import spark.implicits._
    lineitem(spark, dir)
      .groupBy(
        col("l_suppkey").cast("string").as("y"),
        (pmod(col("l_suppkey"), lit(ClusterModes)) * lit(1000) +
          pmod(col("l_partkey"), lit(ClusterCoords))).cast("string").as("x"))
      .agg(sum($"l_quantity").as("value"))
      .as[MatrixElement]
  }

  /** DuckDB CTE mirroring [[clusteredSupplierMatrix]]. */
  val clusteredMatrixSql: String =
    s"""WITH m AS (
      |  SELECT CAST(l_suppkey AS VARCHAR) AS y,
      |         CAST((l_suppkey % $ClusterModes) * 1000 + (l_partkey % $ClusterCoords) AS VARCHAR) AS x,
      |         CAST(SUM(l_quantity) AS DOUBLE) AS v
      |  FROM lineitem GROUP BY 1, 2
      |)""".stripMargin

  /** DuckDB CTE mirroring [[skewedCustomerMatrix]]. */
  val skewMatrixSql: String =
    """WITH m AS (
      |  SELECT CAST(o.o_custkey AS VARCHAR) AS y, CAST(l.l_partkey AS VARCHAR) AS x,
      |         CAST(SUM(l.l_quantity) AS DOUBLE) AS v
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2
      |  UNION ALL
      |  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS y, 'hot' AS x, 1000.0 AS v
      |  FROM orders WHERE o_custkey % 10 < 6
      |)""".stripMargin
}
