package graft

import java.io.File

/**
 * Every contract query's physical plan, audited in one sweep: no
 * CartesianProduct anywhere, and BroadcastNestedLoopJoin only where it
 * is the documented design — `ann_topk_brute` (the brute-force baseline
 * IS an all-pairs broadcast scan), `ann_recall` (its ground-truth side is
 * that same brute scan), and `tfidf_matrix` (1-row corpus-size scalar
 * broadcast). Pins SURVEY §8's plan-audit claim over ALL queries
 * permanently: a future operator that sneaks in an inequality-only join
 * fails here before it ships. Planning only — nothing executes.
 */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  // ann_recall's ground-truth side IS ann_topk_brute's all-pairs broadcast
  // scan — same sanctioned node; the approximate side stays equi-join.
  // bm25_search shares tfidf_matrix's 1-row corpus-stats scalar broadcast.
  private val bnljByDesign =
    Set("ann_topk_brute", "tfidf_matrix", "ann_recall", "bm25_search",
      // 1-row grand-total aggregate crossed back over the vocab — the
      // sanctioned scalar-broadcast shape (constant keys fold away)
      "quality_unigram",
      // same 1-row (T, V) train-total scalar broadcast over the
      // held-out bigram stream; the three model joins are equi-joins
      "quality_lm_heldout", "quality_lm_cross",
      // same 1-row global-token-total broadcast over the slice vocab
      "corpus_divergence",
      // knn_classify votes over ann_topk_brute's sanctioned all-pairs
      // broadcast scan; the classification layer itself is equi-join
      "knn_classify",
      // 1-row corpus-total broadcast over the topN-row skew slice
      "events_skew",
      // 1-row Σ n^τ scalar broadcast over the groups-sized mix table
      "corpus_temperature",
      // the water-fill's two 1-row scalar broadcasts (totals + final
      // level) over the sources-sized frame
      "corpus_epochs",
      // both fuse/score the brute exact top-10 — ann_topk_brute's
      // sanctioned all-pairs broadcast scan is one input; the fusion /
      // metrics layers themselves are result-sized equi-joins
      "hybrid_rrf", "retrieval_ndcg",
      // exact hard-negative mining IS ann_topk_brute's broadcast scan
      // with a label inequality riding the same join
      "hard_negatives",
      // margin mining scores off ann_topk_brute's sanctioned
      // broadcast-queries × candidate scan; the margin layer itself is
      // windows + result-sized equi-joins
      "embed_margin_mining",
      // 1-row max-timestamp scalar broadcast for the decay reference
      "events_decay",
      // 1-row nation-total scalar broadcast over the per-part values
      // (the Q11 importance threshold)
      "rel_nation_stock",
      // 1-row total-bigram-count scalar broadcast over the PMI vocab
      "vocab_pmi",
      // 1-row (total tokens, cluster count) scalar broadcast over the
      // vocab-sized c-TF-IDF weight table
      "cluster_terms",
      // two 1-row aggregates crossed into the single stats row
      "vocab_bpe_encode",
      // the unigram M-step's 1-row piece-total scalar broadcast (per EM
      // round), and for the encode readout the 1-row vocab-size cross
      "vocab_unigram_lm", "vocab_unigram_encode",
      // the exact-Σf² and sketch-min 1-row frames crossed into the
      // single audit row
      "pair_budget_sketch",
      // the bottom-k 1-row max/count crossed with the 1-row exact count
      "vocab_kmv_audit",
      // ann_topk_brute's sanctioned broadcast-queries × candidate scan
      // with two dots per pair instead of one
      "embed_truncation_audit",
      // 1-row average-balance scalar broadcast over the customer scan
      "rel_dormant_customers",
      // 1-row dangling-mass scalar broadcast per power-iteration round
      "graph_pagerank_dangling",
      // 1-row MIN(id) hub scalar broadcast building the planted star
      "dedup_groups_skew", "dedup_groups_skew_salted",
      // the MMR pool IS ann_topk_brute's sanctioned broadcast scan; the
      // greedy rounds themselves are result-sized equi-joins
      "retrieval_mmr",
      // the type-PAIR frame is a types²-sized cross of a ≤types-row
      // aggregate (event_type cardinality, never data-sized); all
      // register/exact joins around it are equi-joins
      "events_reach_overlap",
      // 1-row midpoint-cut broadcast over the events scan, then the
      // 1-row moment fold — the abTest shape plus the covariate sums
      "events_cuped",
      // 1-row (n_pos, n_neg) totals crossed over the |thresholds|-row
      // sweep; 1-row n1·n0 totals crossed over the value histogram
      "quality_lr_roc", "quality_ks",
      // bm25_search's sanctioned 1-row corpus-stats scalar broadcast
      // with the LM arithmetic instead
      "retrieval_qlm",
      // 1-row grand-total (n, n_a, n_b) broadcast over the
      // contingency-cells frame
      "corpus_chi2",
      // 1-row corpus-end + 1-row user-total broadcasts feeding the
      // exit-time-sized KM fold
      "events_survival",
      // its truth side IS ann_topk_brute's sanctioned all-pairs
      // broadcast scan, plus the 1-row query-count scalar; the IVF
      // search side stays equi-join
      "ann_pareto",
      // 1-row (n1, n0, n_bins) totals crossed over the observed-bin
      // histogram
      "quality_psi",
      // 1-row (target-total, raw-total) scalar broadcast over the
      // dim-row DSIR language-model counts (the selection step and the
      // composed selection pipelines reuse the same weights plan;
      // _shards swaps only the cut, whose joins are equi)
      "corpus_dsir", "corpus_dsir_sample", "corpus_select",
      "corpus_select_shards",
      // two 1-row summary frames crossed into the single profile row
      "graph_degree_stats",
      // 1-row (total, k) scalar broadcast over the k-row occupancy table
      "ann_ivf_balance",
      // the router's three 1-row surface frames (count, within-mass,
      // total-mass) crossed into one decision row per regime — the
      // graph_degree_stats / vocab_kmv_audit shape; the Lloyd fit and
      // moment aggregates feeding them are equi-join/aggregate only
      "ann_auto",
      // the triangle router's two 1-row surface frames (node count; edge
      // count and wedge sum from one probe) crossed into one decision
      // row per regime, and the
      // colorful kernel's 1-row sampled-edge count crossed with its
      // 1-row triangle count — the same sanctioned scalar-cross shape
      "graph_triangles_auto", "graph_triangles_colorful",
      // the anchor-day and three 1-row tercile-threshold scalar
      // broadcasts over the customer frame
      "rel_rfm_segments",
      // the 1-row order-count scalar broadcast over the rule table
      "rel_basket_rules", "rel_basket_rules_skew", "rel_basket_rules_skew_capped",
      // the calibration sweeps' TRUTH side IS allPairsCosine's
      // sanctioned all-pairs broadcast scan (plus, for the probe sweep,
      // a 1-row candidate-volume scalar broadcast per depth); the LSH
      // candidate side stays equi-join
      "dedup_semantic_sweep", "dedup_semantic_sweep_probes",
      // the heavy-shingle split's 1-row Σdf scalar broadcast crossed
      // over the per-shingle df table (r14 — the rel_basket_rules
      // order-count shape); every data-sized join in the split is equi
      "dedup_jaccard_prefix_head")

  test("no contract query plans a cartesian product or unsanctioned BNLJ") {
    assume(new File(sfDir).isDirectory, s"$sfDir missing")
    try {
      val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljByDesign(name)
        if (cart || bnlj) Some(s"$name: cartesian=$cart unsanctionedBnlj=$bnlj")
        else None
      }
      assert(bad.isEmpty, bad.mkString("\n"))
    } finally {
      spark.catalog.clearCache() // pin-persisting entries mark caches
    }
  }
}
