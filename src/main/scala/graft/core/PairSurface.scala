package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The pair surface of a self-equi-join, measured before the join runs.
 *
 * Joining a table to itself on `keyCol` emits C(df, 2) rows per key,
 * where df is the key's posting count — the one quadratic term every
 * pair kernel here pays (the reference's per-coordinate C(n,2)
 * expansion, MatrixCosineAnalyse.scala:168–202). The kernel routers
 * ([[graft.ext.Dedup.autoRoute]], [[CosineAnalysis.autoRouteAligned]],
 * [[graft.ext.Graph.triangleRoute]]) and the verify regime gate of
 * [[graft.ext.Dedup.jaccardForBySh]] price that term with [[probe]];
 * the df caps ([[graft.ext.Dedup.dfCapShingles]],
 * [[CosineAnalysis.dfCap]], [[graft.ext.Dedup.weightedJaccardDups]])
 * remove the keys above it with [[cap]].
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
   * [[probe]]'s `capped_pairs` prices. Downstream set sizes and
   * intersections both see the capped rows, so a pair whose keys all
   * sit under the cap keeps its exact uncapped answer. One count
   * aggregate keyed by `keyCol` and one left-semi equi-join, which AQE
   * broadcasts when the surviving keys are few.
   */
  def cap(table: DataFrame, keyCol: String, maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val keep = table.groupBy(col(keyCol))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
      .select(col(keyCol))
    table.join(keep, Seq(keyCol), "left_semi")
  }
}
