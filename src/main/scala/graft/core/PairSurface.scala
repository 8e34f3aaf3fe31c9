package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The pair surface of a self-equi-join: priced before the join runs, and
 * the join itself.
 *
 * Joining a table to itself on its key columns emits C(df, 2) rows per
 * key, where df is the key's posting count — the one quadratic term every
 * pair kernel here pays (the reference's per-coordinate C(n,2)
 * expansion, MatrixCosineAnalyse.scala:168–202). [[pairs]] is that join,
 * written once: every keyed self-join in graft (the shingle, token,
 * band, bucket, block, cluster, coordinate, basket and wedge joins, and
 * the all-pairs baselines) runs through it. [[bandPairs]] is its banded
 * LSH form (MinHash, SimHash, pHash, the streaming index). The kernel
 * routers ([[graft.ext.Dedup.autoRoute]],
 * [[CosineAnalysis.autoRouteAligned]], [[graft.ext.Graph.triangleRoute]])
 * and the verify regime gate of [[graft.ext.Dedup.jaccardForBySh]] price
 * the term with [[probe]]; the df and occupancy caps remove the keys above
 * it with [[cap]].
 */
private[graft] object PairSurface {

  /**
   * One (group, key) count aggregate folded per group to the surface
   * columns:
   *
   *   - `postings` = Σ df — the rows being paired;
   *   - `max_df` — the hottest key's posting count;
   *   - `uncapped_pairs` = Σ C(df, 2) — the self-join's output size;
   *   - `capped_pairs` = Σ C(df, 2) over keys with df ≤ `maxDf` — the
   *     same surface after [[cap]];
   *   - `retained_postings` = Σ df over those keys — the postings the
   *     cap keeps.
   *
   * Integer arithmetic only (C(df, 2) by integral DIV), so a decision
   * built on these columns is exact and an oracle can replay it. With
   * `groupCols` empty the fold is global: exactly one row, zeros on an
   * empty table. Nothing pairwise runs: one pass over `table`.
   */
  def probe(table: DataFrame, groupCols: Seq[String], keyCol: String,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val groups = groupCols.map(col)
    val pairs = expr("df * (df - 1) DIV 2")
    val kept = col("df") <= maxDf
    def total(c: org.apache.spark.sql.Column) = coalesce(c, lit(0L))
    table.groupBy(groups :+ col(keyCol): _*)
      .agg(count(lit(1)).as("df"))
      .groupBy(groups: _*)
      .agg(
        total(sum(col("df"))).as("postings"),
        total(max(col("df"))).as("max_df"),
        total(sum(pairs)).as("uncapped_pairs"),
        total(sum(when(kept, pairs).otherwise(0L))).as("capped_pairs"),
        total(sum(when(kept, col("df")).otherwise(0L))).as("retained_postings"))
  }

  /**
   * `table` restricted to the keys with df ≤ `maxDf` — the population
   * [[probe]]'s `capped_pairs` prices, keyed by every column of `keys`
   * (a shingle, a (band, value) bucket, a prefix block). Downstream set
   * sizes and intersections both see the capped rows, so a pair whose
   * keys all sit under the cap keeps its exact uncapped answer. One count
   * aggregate keyed by `keys` and one left-semi equi-join, which AQE
   * broadcasts when the surviving keys are few.
   */
  def cap(table: DataFrame, keys: Seq[String], maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val keep = table.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
      .select(keys.map(col): _*)
    table.join(keep, keys, "left_semi")
  }

  /**
   * The keyed self-join: `t` as `a` joined to `t` as `b` on every column
   * of `keys`, plus `a.id < b.id` — each unordered pair sharing a key
   * once per shared key, in canonical id order. Callers read `a.*` and
   * `b.*`. Empty `keys` is the all-pairs join of the O(N²) baselines.
   * Output is Σ_key C(df, 2) rows, the surface [[probe]] prices.
   */
  def pairs(t: DataFrame, keys: Seq[String], id: String): DataFrame =
    t.as("a").join(t.as("b"),
      keys.map(k => col(s"a.$k") === col(s"b.$k"))
        .foldRight(col(s"a.$id") < col(s"b.$id"))(_ && _))

  /**
   * Banded LSH candidates: the distinct (doc0 < doc1) id pairs sharing a
   * bucket, from one row per (id, bucket) where the bucket is the `keys`
   * columns (a band index and its value). `maxDf` drops buckets holding
   * more rows than that ([[cap]]) before any pair is formed; `carry`
   * rides along from each endpoint as `c0`/`c1` (a sketch the verifier
   * compares without a join back). One [[pairs]] join and one distinct,
   * so per-bucket fan-out is C(occupancy, 2), never C(N, 2).
   */
  def bandPairs(t: DataFrame, keys: Seq[String], id: String,
      maxDf: Option[Long] = None, carry: Option[String] = None): DataFrame = {
    val ends = Seq(col(s"a.$id").as("doc0"), col(s"b.$id").as("doc1")) ++
      carry.toSeq.flatMap(c => Seq(col(s"a.$c").as("c0"), col(s"b.$c").as("c1")))
    pairs(maxDf.fold(t)(cap(t, keys, _)), keys, id).select(ends: _*).distinct()
  }
}
