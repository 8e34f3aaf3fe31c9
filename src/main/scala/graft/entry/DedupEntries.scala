package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, expr, lit, pmod, substring}

import graft.ext.{Dedup, Export, TextHash}
import EntryUtil._

/**
 * Driver-contract queries for the dedup extension. Thresholds are part of
 * the contract: ngram/minhash Jaccard ≥ 0.2, simhash hamming ≤ 3,
 * embedding cosine ≥ 0.4 — calibrated so the synthetic corpus's planted
 * near-duplicates surface while random pairs stay out.
 */
object DedupEntries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      gate(Dedup.exact(docs(s, dir), "doc_id", "text"), "doc_id")),
    "dedup_exact_norm" -> ((s, dir) =>
      gate(Dedup.exactNormalized(docs(s, dir), "doc_id", "text"), "doc_id")),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      gate(Dedup.ngramJaccardDups(docs(s, dir), "doc_id", "text"), "doc0", "doc1")),
    // ext: threshold-calibration sweep over the same exact pair table —
    // pairs matched + distinct docs touched per candidate minJaccard
    "dedup_threshold_sweep" -> ((s, dir) =>
      gate(Dedup.jaccardThresholdSweep(docs(s, dir), "doc_id", "text",
        SweepThresholds), "t")),
    // ext: the embedding mirror — exhaustive-truth pair/doc counts per
    // cosine threshold PLUS the sign-LSH candidate route's recall; the
    // table that calibrates the banded route before committing to it
    "dedup_semantic_sweep" -> ((s, dir) =>
      gate(Dedup.semanticThresholdSweep(embeddings(s, dir), "vec_id",
        "embedding", SemSweepThresholds), "t")),
    // ext: the probe-depth half — recall AND candidate volume per
    // (threshold, Hamming depth); deeper probing priced, not guessed
    "dedup_semantic_sweep_probes" -> ((s, dir) =>
      gate(Dedup.semanticProbeSweep(embeddings(s, dir), "vec_id",
        "embedding", SemSweepThresholds, ProbeDepths), "t", "h")),
    // ext: b-bit (b = 1) minhash audit — the 64×-compressed signature's
    // debiased estimate ĵ₁ = max(0, 2f − 1) next to the full-signature
    // estimate and the exact Jaccard: compression priced, not guessed
    "dedup_minhash_bbit" -> ((s, dir) =>
      gate(Dedup.minHashBbitAudit(docs(s, dir), "doc_id", "text",
        pin = _.localCheckpoint()), "doc0", "doc1")),
    // ext: per-doc shingle novelty — the fraction of a document's
    // trigrams whose FIRST corpus occurrence (min doc_id) is this
    // document; the redundancy histogram next to the pair kernels
    "dedup_novelty" -> ((s, dir) =>
      gate(Dedup.shingleNovelty(docs(s, dir), "doc_id", "text"), "doc_id")),
    // tf-weighted (multiset) Jaccard: Σmin/Σmax over unigram term
    // frequencies — the repetition-sensitive kernel set Jaccard cannot
    // see; computed over the df-capped sub-vocabulary
    "dedup_weighted_jaccard" -> ((s, dir) =>
      gate(Dedup.weightedJaccardDups(docs(s, dir), "doc_id", "text",
        minWj = WjMin, maxDf = WjMaxDf), "doc0", "doc1")),
    // the EXACT sub-quadratic route: prefix-filtering (AllPairs/PPJoin)
    // candidates + bounded verify. The oracle is the EXHAUSTIVE kernel —
    // deliberately NOT a mirror of the prefix rule — so a green row
    // proves the filter is lossless, not merely self-consistent.
    "dedup_jaccard_prefix" -> ((s, dir) =>
      gate(Dedup.prefixJaccardDups(docs(s, dir), "doc_id", "text",
        minJaccard = PrefixJac, pin = _.localCheckpoint()), "doc0", "doc1")),
    // THE PLANTED BOILERPLATE-HEAD PAIR (r11, VERDICT r10 ask #4 — the
    // basket-rules-skew pattern): every doc gets a shared boilerplate
    // suffix (~9 trigrams with df = |corpus|) plus a near-dup variant.
    // The prefix filter correctly EXCLUDES the head from candidates
    // (common shingles sit at the end of the rarity order), but the
    // uncapped intersection-first verify still pays Σ_sh C(df, 2) for
    // it — ~C(2N, 2) rows per boilerplate shingle. The twin threads
    // maxDf (population-consistent dfCapShingles) and removes exactly
    // that term; Bench times both, the oracle checks both.
    "dedup_jaccard_prefix_head" -> ((s, dir) =>
      gate(Dedup.prefixJaccardDups(boilerplateDocs(s, dir), "doc_id", "text",
        minJaccard = PrefixJac, pin = _.localCheckpoint()), "doc0", "doc1")),
    "dedup_jaccard_prefix_head_capped" -> ((s, dir) =>
      gate(Dedup.prefixJaccardDups(boilerplateDocs(s, dir), "doc_id", "text",
        minJaccard = PrefixJac, pin = _.localCheckpoint(),
        maxDf = Some(PrefixHeadMaxDf)), "doc0", "doc1")),
    // THE KERNEL ROUTER (r12, VERDICT r11 ask #8): "which dedup kernel
    // do I run on 100 TB" answered from the measured Σ C(df,2) budget —
    // one row per planted regime, the CHOICE flipping across them:
    // a 1% organic slice fits the corpus-linear budget uncapped
    // (→ exact); the boilerplate-headed third goes over budget but the
    // df cap excises the head while keeping 84%+ of postings
    // (→ prefix_dfcap); the 12-template third is over budget AND
    // capping would excise ~100% of its postings — dense MUTUAL
    // duplication, the regime where df caps destroy the signal
    // (→ minhash_banded). Integer arithmetic end to end; the oracle
    // replays the ladder verbatim.
    "dedup_auto" -> ((s, dir) =>
      gate(Dedup.autoRoute(autoRegimeDocs(s, dir), "rid", "text", "regime"),
        "regime")),
    // asymmetric containment: the subset-dup detector Jaccard misses
    "dedup_containment" -> ((s, dir) =>
      gate(Dedup.containmentDups(docs(s, dir), "doc_id", "text"), "doc0", "doc1")),
    // character-level Levenshtein near-dups (record-linkage shape):
    // prefix-block candidates + thresholded edit-distance verify. The
    // corpus carries no short-text typo twins, so the contract plants
    // them: each id%4 doc gets a variant (id+200000) sharing its first
    // 57 chars with a ' zz' tail — a ≤EditMax edit landing AFTER the
    // block prefix, so blocking finds it and the verify measures it.
    "dedup_editdist" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("text"))
      val variants = docs(s, dir)
        .where(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + lit(200000L)).as("doc_id"),
          concat(substring(col("text"), 1, 57), lit(" zz")).as("text"))
      gate(Dedup.editDistanceDups(base.unionByName(variants),
        "doc_id", "text", maxDist = EditMax, prefixLen = EditPrefix),
        "doc0", "doc1")
    }),
    // sorted-neighborhood blocking (Hernández–Stolfo merge/purge) over
    // the SAME planted corpus as dedup_editdist: prefix-similar variants
    // sort adjacent under the packed-prefix key, so the N·(w−1)
    // candidate scan finds them — the third blocking family, with its
    // by-construction linear candidate bound
    "dedup_sorted_neighborhood" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("text"))
      val variants = docs(s, dir)
        .where(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + lit(200000L)).as("doc_id"),
          concat(substring(col("text"), 1, 57), lit(" zz")).as("text"))
      gate(Dedup.sortedNeighborhoodDups(base.unionByName(variants),
        "doc_id", "text", window = SnmWindow, maxDist = EditMax),
        "doc0", "doc1")
    }),
    // the sub-quadratic containment route: Broder MOD_m sketch candidates
    // + sketch-based containment estimate (the 100 TB path; the exact
    // kernel above is the calibration tool)
    "dedup_containment_sketch" -> ((s, dir) =>
      gate(Dedup.containmentSketchDups(docs(s, dir), "doc_id", "text"),
        "doc0", "doc1")),
    // exact Jaccard under the shingle df-cap (Zipf-head guard): the
    // boilerplate-shingle kill switch the exact kernels need at scale
    "dedup_jaccard_dfcap" -> ((s, dir) =>
      gate(Dedup.ngramJaccardDups(docs(s, dir), "doc_id", "text",
        maxDf = Some(JacMaxDf)), "doc0", "doc1")),
    "dedup_minhash_lsh" -> ((s, dir) =>
      gate(Dedup.minHashDups(docs(s, dir), "doc_id", "text"), "doc0", "doc1")),
    // the EXPLICIT narrow 24-bit API (exact all-pairs equivalence at
    // small/medium corpus sizes). Since r10 the obvious simHashDups
    // name routes WIDE by default (VERDICT r9 ask #2) — this contract
    // row pins the narrow kernel under its width-suffixed name.
    "dedup_simhash" -> ((s, dir) =>
      gate(Dedup.simHashDups24(docs(s, dir), "doc_id", "text"), "doc0", "doc1")),
    // the WIDE-sketch scale twin (r9): 15-bit chunks where the narrow
    // geometry's 6-bit chunks measured structurally quadratic at the
    // sfx1 spot-bench (22x wall for 10x docs), plus the required
    // band-bucket occupancy cap
    "dedup_simhash_wide" -> ((s, dir) =>
      gate(Dedup.simHashWideDups(docs(s, dir), "doc_id", "text",
        SimHashWideMaxBucket), "doc0", "doc1")),
    "dedup_embedding" -> ((s, dir) =>
      gate(Dedup.embeddingDups(embeddings(s, dir), "vec_id", "embedding"), "v0", "v1")),
    // cross-source duplicate-leakage matrix over the minhash near-dups
    "dedup_source_matrix" -> ((s, dir) => {
      val d = docs(s, dir)
      gate(Dedup.sourceLeakageMatrix(
        Dedup.minHashDups(d, "doc_id", "text"), d, "doc_id", "source"),
        "src0", "src1")
    }),
    // ext: near-dup pairs crossing train/val/test — the dup-driven eval
    // contamination the split assignment alone cannot see (splitAssign
    // hashes ids, so near-identical TEXTS land in different splits);
    // off-diagonal rows are the leak, composed from the same leakage
    // matrix keyed by split instead of source
    "dedup_split_leakage" -> ((s, dir) => {
      val d = docs(s, dir)
      gate(Dedup.sourceLeakageMatrix(
        Dedup.minHashDups(d, "doc_id", "text"),
        Export.splitAssign(d, "doc_id"), "doc_id", "split"),
        "src0", "src1")
    }),
    // train/eval decontamination: eval corpus = source 'src0', train = rest
    "decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      gate(Dedup.contamination(
        d.where(col("source") =!= EvalSource),
        d.where(col("source") === EvalSource), "doc_id", "text"), "doc_id")
    }),
    // the 13-gram decontamination standard (GPT-3 appendix C / The
    // Pile): 13-token runs flag VERBATIM leakage where trigrams flag
    // topical overlap — same linear-probe plan at gram width 13
    "decontaminate_13gram" -> ((s, dir) => {
      val d = docs(s, dir)
      gate(Dedup.contamination(
        d.where(col("source") =!= EvalSource),
        d.where(col("source") === EvalSource), "doc_id", "text",
        n = WideGram), "doc_id")
    }),
    // bounded-memory Bloom probe of the same train/eval boundary: the
    // fixed-size-filter scale path (no false negatives; FPs measured by
    // holding this against `decontaminate`)
    "decontaminate_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      gate(Dedup.bloomContamination(
        d.where(col("source") =!= EvalSource),
        d.where(col("source") === EvalSource), "doc_id", "text"), "doc_id")
    }),
    // EXACT-substring decontamination (Lee et al. semantics, r8 ask
    // #7): every 50-char window at every character offset, matched
    // verbatim — catches arbitrary-alignment quotes the probabilistic
    // and token-aligned probes can miss
    "decontaminate_substring" -> ((s, dir) => {
      val d = docs(s, dir)
      gate(Dedup.substringContamination(
        d.where(col("source") =!= EvalSource),
        d.where(col("source") === EvalSource), "doc_id", "text"), "doc_id")
    }),
    // near-dup leakage across the same split (MinHash bands + verify)
    "decontaminate_fuzzy" -> ((s, dir) => {
      val d = docs(s, dir)
      gate(Dedup.fuzzyContamination(
        d.where(col("source") =!= EvalSource),
        d.where(col("source") === EvalSource), "doc_id", "text"),
        "doc_id", "eval_id")
    }),
    // component grouping over the minhash near-dup pairs (keep-one step).
    // The pairs table is pinned (caller-owned caching, cf. Verify's
    // clearCache) so the rounds loop joins a materialized edge list
    // instead of re-deriving the detector pipeline per round.
    "dedup_groups" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minHashDups(d, "doc_id", "text")
        .select("doc0", "doc1").localCheckpoint()
      gate(Dedup.dupGroups(d, pairs, "doc_id", rounds = GroupRounds), "doc_id")
    }),
    // CONVERGED grouping over a chain-shaped edge fixture (consecutive
    // ids within blocks of ChainBlock → diameter ChainBlock-1, far past
    // any practical fixed round count — exactly the case the fixed-round
    // form's contract documents as needing dupGroupsConverged). The
    // fixture is pure integer arithmetic on doc_id so the DuckDB oracle
    // derives the SAME edges, then recomputes components INDEPENDENTLY
    // via a recursive CTE instead of label propagation.
    "dedup_groups_converged" -> ((s, dir) => {
      val d = docs(s, dir)
      val ids = d.select(col("doc_id"))
      val pairs = ids
        .select(col("doc_id").as("doc0"), (col("doc_id") + lit(1)).as("doc1"))
        .where(pmod(col("doc1"), lit(ChainBlock)) =!= 0)
        .join(ids.select(col("doc_id").as("doc1")), "doc1")
        .select("doc0", "doc1")
      gate(Dedup.dupGroupsConverged(d, pairs, "doc_id"), "doc_id")
    }),
    // STAR-CONTRACTION grouping (large-star/small-star — the edge set
    // shrinks geometrically per round instead of being re-joined whole,
    // see Dedup.dupGroupsStars). The fixture is deliberately harder than
    // the converged chain: the same 25-blocks PLUS block-start links
    // merging each run of 4 blocks into one 100-doc component — multi-
    // path shapes star contraction must collapse across. Pure integer
    // arithmetic on doc_id, so the oracle derives the same edges and
    // recomputes components independently via a recursive CTE.
    "dedup_groups_stars" -> ((s, dir) => {
      val d = docs(s, dir)
      val ids = d.select(col("doc_id"))
      val chain = ids
        .select(col("doc_id").as("doc0"), (col("doc_id") + lit(1)).as("doc1"))
        .where(pmod(col("doc1"), lit(ChainBlock)) =!= 0)
      val links = ids
        .select(col("doc_id").as("doc0"),
          (col("doc_id") + lit(ChainBlock)).as("doc1"))
        .where(pmod(col("doc0"), lit(ChainBlock)) === 0 &&
          expr(s"pmod(doc0 div $ChainBlock, 4)") =!= 3)
      val pairs = chain.union(links)
        .join(ids.select(col("doc_id").as("doc1")), "doc1")
        .select("doc0", "doc1")
      gate(Dedup.dupGroupsStars(d, pairs, "doc_id"), "doc_id")
    }),
    // the PLANTED mega-component twins (VERDICT r7 ask #7): a star
    // pairing the minimum orders key with 60% of the key space — the
    // boilerplate-hub regime where each propagation round's edge⋈label
    // join hands the hub's whole in-degree to the task owning hash(hub).
    // Plain vs salted derive the same components (shared oracle); Bench
    // times them side by side with shuffle-byte accounting.
    "dedup_groups_skew" -> ((s, dir) => {
      val ids = skewIds(s, dir)
      gate(Dedup.dupGroups(ids, starPairs(ids), "doc_id",
        rounds = SkewRounds), "doc_id")
    }),
    "dedup_groups_skew_salted" -> ((s, dir) => {
      val ids = skewIds(s, dir)
      gate(Dedup.dupGroupsSalted(ids, starPairs(ids), "doc_id",
        rounds = SkewRounds, salts = SkewSalts), "doc_id")
    }),
    // GROUP-ATOMIC split: near-dup groups assigned to train/val/test as
    // one unit — the constructive fix for the leakage dedup_split_leakage
    // measures (id-hash splits separate near-identical texts)
    "split_by_group" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minHashDups(d, "doc_id", "text")
        .select("doc0", "doc1").localCheckpoint()
      val groups = Dedup.dupGroups(d, pairs, "doc_id", rounds = GroupRounds)
      gate(Export.splitAssignByGroup(d, "doc_id", groups), "doc_id")
    }),
    // cross-document repeated-span stats (substring-level dedup signal)
    "dedup_spans" -> ((s, dir) =>
      gate(Dedup.spanStats(docs(s, dir), "doc_id", "text", SpanTokens), "doc_id")),
    // substring-level scrub: drop covered tokens everywhere but the
    // owning (smallest-id) document, keep-first-occurrence
    "dedup_spans_scrub" -> ((s, dir) =>
      gate(Dedup.spanScrub(docs(s, dir), "doc_id", "text", SpanTokens), "doc_id")),
    // SemDeDup-style within-cluster cosine dedup over the label blocking
    "dedup_semantic" -> ((s, dir) =>
      gate(graft.ext.Embeddings.semanticDedup(embeddings(s, dir), "vec_id",
        "embedding", "label", SemEps), "vec_id")),
    // quality-aware representative election over the minhash dup groups,
    // scored by whitespace token count (longest member wins, tie -> min id)
    "dedup_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minHashDups(d, "doc_id", "text")
        .select("doc0", "doc1").localCheckpoint()
      val groups = Dedup.dupGroups(d, pairs, "doc_id", rounds = GroupRounds)
      val scores = graft.ext.TextAnalysis.tokenCounts(d, "doc_id", "text")
      gate(Dedup.keepBest(groups, scores, "doc_id", "ws_tokens"), "doc_id")
    }),
    // cluster-size histogram over the same minhash dup groups (audit)
    "dedup_group_sizes" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minHashDups(d, "doc_id", "text")
        .select("doc0", "doc1").localCheckpoint()
      gate(Dedup.groupSizeHistogram(
        Dedup.dupGroups(d, pairs, "doc_id", rounds = GroupRounds)),
        "group_size")
    }),
    // winnowing fingerprint selection (MOSS; rightmost-min per window)
    "doc_winnow" -> ((s, dir) =>
      gate(Dedup.winnow(docs(s, dir), "doc_id", "text"), "doc_id", "pos")),
    // signature-estimator calibration: ĵ = agreements/16 vs exact
    // jaccard per candidate pair (recall audit grades the BANDING;
    // this grades the SIGNATURE)
    "dedup_minhash_estimate" -> ((s, dir) =>
      gate(Dedup.minHashEstimateAudit(docs(s, dir), "doc_id", "text",
        pin = _.localCheckpoint()), "doc0", "doc1")),
    // banding recall curve vs exact jaccard (the dedup self-audit);
    // 0.05 floor reaches below the banding's reliable zone on purpose —
    // the LOW buckets' droop is the measurement
    "dedup_recall" -> ((s, dir) =>
      gate(Dedup.minHashRecallAudit(docs(s, dir), "doc_id", "text",
        minJaccard = RecallFloor, pin = _.localCheckpoint()), "bucket")),
    // the composed cleaning sweep: dedup -> keep-best -> quality gate ->
    // decontaminate, one lazy plan end to end
    "corpus_clean" -> ((s, dir) =>
      gate(graft.ext.Pipelines.cleanCorpus(docs(s, dir), "doc_id", "text",
        "source", EvalSource,
        TextEntries.QfMinTokens, TextEntries.QfMaxTokens,
        TextEntries.QfMinAvgLen, TextEntries.QfMaxAvgLen,
        TextEntries.QfMaxStop, TextEntries.QfMinTtr,
        pin = _.localCheckpoint()), "doc_id")),
    // ext: the full selection sweep — clean gates (eval slice = src1
    // here, so the DSIR target slice src0 stays a real domain) + DSIR
    // ranking of the clean RAW survivors + the top-m cut
    "corpus_select" -> ((s, dir) =>
      gate(graft.ext.Pipelines.selectCorpus(docs(s, dir), "doc_id", "text",
        "source", SelectEvalSource, TextEntries.DsirTarget, SelectM,
        TextEntries.QfMinTokens, TextEntries.QfMaxTokens,
        TextEntries.QfMinAvgLen, TextEntries.QfMaxAvgLen,
        TextEntries.QfMaxStop, TextEntries.QfMinTtr,
        pin = _.localCheckpoint()), "rank")),
    // the same selection at TRAINING-SET size: identical rows and ranks,
    // but the top-m cut runs through Export.globalTopM (deterministic
    // range buckets + bucket offsets) instead of orderBy().limit(m) —
    // no GlobalLimit/TakeOrdered single-task sink — and each row carries
    // its export shard = floor((rank-1)*nShards/m)
    "corpus_select_shards" -> ((s, dir) =>
      gate(graft.ext.Pipelines.selectCorpusShards(docs(s, dir), "doc_id", "text",
        "source", SelectEvalSource, TextEntries.DsirTarget, SelectM,
        SelectShards, SelectParts, SelectWidth,
        TextEntries.QfMinTokens, TextEntries.QfMaxTokens,
        TextEntries.QfMinAvgLen, TextEntries.QfMaxAvgLen,
        TextEntries.QfMaxStop, TextEntries.QfMinTtr,
        pin = _.localCheckpoint()), "rank")),
    // the full sweep a training run consumes: clean, then GROUP-ATOMIC
    // split by the representative's hash (leakage-free by construction)
    "corpus_clean_split" -> ((s, dir) =>
      gate(graft.ext.Pipelines.cleanAndSplit(docs(s, dir), "doc_id", "text",
        "source", EvalSource,
        TextEntries.QfMinTokens, TextEntries.QfMaxTokens,
        TextEntries.QfMinAvgLen, TextEntries.QfMaxAvgLen,
        TextEntries.QfMaxStop, TextEntries.QfMinTtr,
        pin = _.localCheckpoint()), "doc_id")),
    // data-loss accounting: survivor count after each cleaning gate
    "corpus_funnel" -> ((s, dir) =>
      gate(graft.ext.Pipelines.cleanFunnel(docs(s, dir), "doc_id", "text",
        "source", EvalSource,
        TextEntries.QfMinTokens, TextEntries.QfMaxTokens,
        TextEntries.QfMinAvgLen, TextEntries.QfMaxAvgLen,
        TextEntries.QfMaxStop, TextEntries.QfMinTtr,
        pin = _.localCheckpoint()), "stage"))
  )

  /** Within-cluster cosine threshold for the semantic-dedup contract —
    * calibrated on sf0.01's within-label cosine distribution (p99 ≈ 0.29,
    * max ≈ 0.47) so the drop set is non-trivial on both tails. */
  private val SemEps = 0.25

  /** Label-propagation rounds for the contract grouping run. */
  private val GroupRounds = 4

  /** Weighted-Jaccard contract: threshold and vocabulary df cap. */
  private val WjMin = 0.5
  private val WjMaxDf = 200

  /** Candidate minJaccard grid for the calibration sweep. */
  private val SweepThresholds = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)

  /** Cosine grid of the semantic sweep (brackets the 0.4 contract floor). */
  private val SemSweepThresholds = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.8)

  /** Probe depths priced by the probe sweep. */
  private val ProbeDepths = Seq(1, 2)

  /** Eval slice of the selection pipeline (≠ the DSIR target src0, so
    * both gates stay meaningful) and its kept-documents cut. */
  private val SelectEvalSource = "src1"
  private val SelectM = 100
  /** corpus_select_shards contract: export shard count and globalTopM's
    * bucket/width (key grid = log_weight·1e6, so width 1e6 = 1.0 in
    * weight units — a bounded histogram over any real weight range). */
  private val SelectShards = 8
  private val SelectParts = 16
  private val SelectWidth = 1000000L

  /** VALUES list of every 6-bit mask with ≤ h bits set. */
  private def probeMasksSql(h: Int): String =
    graft.ext.Embeddings.lshProbeMasks(graft.ext.Embeddings.LshPlanes, h)
      .map(m => s"($m)").mkString("(VALUES ", ", ", ")")

  /** Planted mega-star contract: the hub star converges in one round;
    * two rounds prove propagation holds the fixed point. 8 salts mirrors
    * the aligned_pairs_salted convention. */
  private val SkewRounds = 2
  private val SkewSalts = 8

  /** The orders key space as a grouping corpus (10×–300× more nodes than
    * documents, so the planted hub's in-degree is bench-visible). */
  private def skewIds(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("doc_id"))

  /** The planted 60%-star: hub = MIN(id) (a 1-row scalar broadcast),
    * spokes = every id with id % 10 < 6 except the hub itself. One round
    * of min-label propagation collapses the star to the hub (the hub is
    * the global minimum), so the oracle is closed-form. */
  private def starPairs(ids: DataFrame): DataFrame = {
    val h = ids.agg(org.apache.spark.sql.functions.min(col("doc_id")).as("hub"))
    ids.where(pmod(col("doc_id"), lit(10)) < 6)
      .crossJoin(org.apache.spark.sql.functions.broadcast(h))
      .where(col("doc_id") =!= col("hub"))
      .select(col("hub").as("doc0"), col("doc_id").as("doc1"))
  }

  /** Jaccard threshold of the prefix-filter contract — above the 0.2
    * exhaustive-kernel contract on purpose so the two rows exercise
    * different thresholds (the prefix length rule depends on t). */
  private val PrefixJac = 0.3

  /** Boilerplate suffix of the prefix-head pair: 11 words ⇒ 9 internal
    * trigrams shared by EVERY fixture doc (df = |fixture|) — the planted
    * Zipf head. The two boundary trigrams (last text words × first
    * suffix words) stay doc-specific. */
  private val BpSuffix =
    " all rights reserved terms of service apply contact support online now"

  /** df cap of the capped twin: far above the fixture's organic df head
    * (each text appears twice, so organic max df ≈ 14 at sf0.01), far
    * below the boilerplate df (2N ≥ 1000) — the cap excises exactly the
    * planted head while near-dup pairs keep their full overlap. */
  private val PrefixHeadMaxDf = 24L

  /** The planted boilerplate-head corpus: every document with [[BpSuffix]]
    * appended, plus a near-dup variant (id + 400000, two extra leading
    * words) — every doc is a candidate endpoint, so the candidate-doc
    * semi-join is a row-level no-op here, yet jaccardForBySh's auto
    * gate (max_df² > postings) correctly keeps it ON: its shuffle
    * forces the AQE-splittable SortMergeJoin plan on the hot-key
    * expansion (measured 57.9 s vs 106.4 s as a broadcast join at
    * sf0.1). The verify's df-head term is isolated as the measured
    * difference between the uncapped and capped twins. */
  private def boilerplateDocs(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), concat(col("text"), lit(BpSuffix)).as("text"))
    base.unionByName(base.select((col("doc_id") + lit(400000L)).as("doc_id"),
      concat(lit("zz qq"), lit(" "), col("text")).as("text")))
  }

  /** Template sentence of dedup_auto's dense-duplication regime — 18
    * words, so each of the 12 variants carries ~17 trigrams shared by
    * every doc in its class (df ≈ class size ≫ cap). */
  private val AutoTemplate = "the quick brown fox jumps over the lazy dog " +
    "again and again every single day without fail variant "

  /** dedup_auto's planted three-regime corpus: a ~1% organic slice
    * (benign — uncapped surface under budget), the boilerplate-headed
    * third ([[BpSuffix]] planted on doc_id % 3 = 0 — df-head a cap
    * excises), and a 12-template third (doc_id % 3 = 1 — dense mutual
    * duplication a cap would destroy). Regime ids are offset into
    * disjoint bands (the boilerplateDocs convention) so the shingle
    * chain's per-doc keys never collide across regimes. */
  private def autoRegimeDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val benign = d.where(pmod(col("doc_id"), lit(101)) === 0)
      .select(col("doc_id").as("rid"), lit("benign").as("regime"), col("text"))
    val headed = d.where(pmod(col("doc_id"), lit(3)) === 0)
      .select((col("doc_id") + lit(1000000L)).as("rid"),
        lit("headed").as("regime"),
        concat(col("text"), lit(BpSuffix)).as("text"))
    val template = d.where(pmod(col("doc_id"), lit(3)) === 1)
      .select((col("doc_id") + lit(2000000L)).as("rid"),
        lit("template").as("regime"),
        concat(lit(AutoTemplate),
          pmod(col("doc_id"), lit(12)).cast("string")).as("text"))
    benign.unionByName(headed).unionByName(template)
  }

  /** Edit-distance contract: Levenshtein cap and block-prefix length —
    * the planted ' zz' tail edit sits inside the cap and after the
    * prefix, so blocking surfaces every planted pair. */
  private val EditMax = 4
  private val EditPrefix = 12

  /** Sorted-neighborhood scan window (each record vs its 3 successors). */
  private val SnmWindow = 4

  /** Shingle df-cap of the dedup_jaccard_dfcap contract — low enough to
    * actually drop corpus-common shingles at sf0.01 (max shingle df there
    * is 7, so 5 excises the df-6/7 head — the contract is non-vacuous),
    * high enough that planted near-dup pairs keep most of their overlap. */
  private val JacMaxDf = 5L

  /** Exact-jaccard floor of the banding recall audit — deliberately below
    * the banding's reliable zone so the curve shows the low-j droop. */
  private val RecallFloor = 0.05

  /** Span width (tokens) for the repeated-span contract: long enough that
    * only the planted near-duplicates share windows (47 docs at sf0.01),
    * mirroring Lee et al.'s long-span memorization criterion. */
  private val SpanTokens = 8

  /** Chain length of the converged-grouping fixture: consecutive doc ids
    * within each block of 25 are linked, giving components of diameter 24. */
  private val ChainBlock = 25

  /** Source id treated as the held-out eval corpus in the
    * decontamination contract (the other 19 sources are "train"). */
  private val EvalSource = "src0"

  /** Closed-form oracle of the planted 60%-star grouping (see
    * [[starPairs]]): spokes and hub map to the hub, everyone else to
    * themselves. */
  private val SkewStarSql =
    """WITH h AS (SELECT MIN(o_orderkey) AS hub FROM orders)
      |SELECT o_orderkey AS doc_id,
      |  CAST(CASE WHEN o_orderkey % 10 < 6 OR o_orderkey = h.hub
      |       THEN h.hub ELSE o_orderkey END AS BIGINT) AS group_rep
      |FROM orders CROSS JOIN h ORDER BY doc_id""".stripMargin

  import TextHash.M

  /** Gram width of the wide-gram decontamination contract. */
  private val WideGram = 13

  /** Per-document distinct n-gram CTE chain mirroring Dedup.shinglesK:
    * n−1 lead windows + the same Horner fold (`shgk(doc_id, sh)`). */
  def shgKSql(n: Int): String = {
    val tv = TextHash.tokenValue("token")
    val leads = (1 until n).map(k =>
      s"lead(v, $k) OVER (PARTITION BY doc_id ORDER BY pos) AS v${k + 1}")
    val h = Dedup.ngramHashSql((1 to n).map(i => s"v$i"))
    TextEntries.tokSql + s""",
      |tvs AS (SELECT doc_id, pos, $tv AS v FROM tok),
      |tvn AS (SELECT doc_id, v AS v1,
      |        ${leads.mkString(",\n        ")}
      |        FROM tvs),
      |shgk AS MATERIALIZED (SELECT DISTINCT doc_id, $h AS sh
      |         FROM tvn WHERE v$n IS NOT NULL)""".stripMargin
  }

  /** Per-document distinct-shingle CTE chain mirroring Dedup.shingles. */
  val shgSql: String = {
    val tv = TextHash.tokenValue("token")
    TextEntries.tokSql + s""",
      |tvs AS (SELECT doc_id, pos, $tv AS v FROM tok),
      |tv3 AS (SELECT doc_id, v,
      |        lead(v, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS v2,
      |        lead(v, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS v3
      |        FROM tvs),
      |shg AS MATERIALIZED (SELECT DISTINCT doc_id, ${TextHash.shingleHash("v", "v2", "v3")} AS sh
      |        FROM tv3 WHERE v3 IS NOT NULL)""".stripMargin
  }

  /** Exhaustive-kernel oracle over the boilerplate-head fixture —
    * [[shingleSql]]'s chain rebuilt from the planted corpus (every doc +
    * [[BpSuffix]], plus the `zz qq`-prefixed variant), optionally with
    * the df-capped shingle population (`shc`) feeding BOTH the counts
    * and the pair join — mirroring prefixJaccardDups' population-
    * consistent `maxDf` semantics. */
  private def prefixHeadSql(maxDf: Option[Long]): String = {
    val tv = TextHash.tokenValue("token")
    val shSrc = maxDf.fold("shg")(_ => "shc")
    val capCte = maxDf.fold("")(m => s""",
      |shc AS MATERIALIZED (SELECT s.doc_id, s.sh FROM shg s
      |        JOIN (SELECT sh FROM shg GROUP BY sh
      |              HAVING COUNT(*) <= $m) k USING (sh))""".stripMargin)
    s"""WITH bpd AS MATERIALIZED (
      |  SELECT doc_id, text || '$BpSuffix' AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 400000 AS doc_id, 'zz qq ' || text || '$BpSuffix' AS text
      |  FROM documents),
      |t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM bpd),
      |tok AS MATERIALIZED (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i+1] AS token
      |        FROM t, UNNEST(range(len(toks))) AS r(i)
      |        WHERE toks[i+1] <> ''),
      |tvs AS (SELECT doc_id, pos, $tv AS v FROM tok),
      |tv3 AS (SELECT doc_id, v,
      |        lead(v, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS v2,
      |        lead(v, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS v3
      |        FROM tvs),
      |shg AS MATERIALIZED (SELECT DISTINCT doc_id, ${TextHash.shingleHash("v", "v2", "v3")} AS sh
      |        FROM tv3 WHERE v3 IS NOT NULL)$capCte,
      |cnt AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM $shSrc GROUP BY 1),
      |inter AS MATERIALIZED (SELECT a.doc_id AS doc0, b.doc_id AS doc1, CAST(COUNT(*) AS BIGINT) AS i
      |          FROM $shSrc a JOIN $shSrc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jac AS (SELECT doc0, doc1, CAST(i AS DOUBLE) / (c0.n + c1.n - i) AS jaccard
      |        FROM inter
      |        JOIN cnt c0 ON c0.doc_id = doc0
      |        JOIN cnt c1 ON c1.doc_id = doc1)
      |SELECT doc0, doc1, ${r6sql("jaccard")} AS jaccard FROM jac
      |WHERE jaccard >= $PrefixJac ORDER BY doc0, doc1""".stripMargin
  }

  /** Shingle + Jaccard CTE chain mirroring Dedup.shingles/jaccardPairs. */
  val shingleSql: String = {
    shgSql + s""",
      |cnt AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shg GROUP BY 1),
      |inter AS MATERIALIZED (SELECT a.doc_id AS doc0, b.doc_id AS doc1, CAST(COUNT(*) AS BIGINT) AS i
      |          FROM shg a JOIN shg b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jac AS MATERIALIZED (SELECT doc0, doc1, CAST(i AS DOUBLE) / (c0.n + c1.n - i) AS jaccard
      |        FROM inter
      |        JOIN cnt c0 ON c0.doc_id = doc0
      |        JOIN cnt c1 ON c1.doc_id = doc1)""".stripMargin
  }

  private val sigSelect = Dedup.HashParams.zipWithIndex.map { case ((a, b), j) =>
    s"MIN(($a * sh + $b) % $M) AS sig_$j"
  }.mkString(", ")

  private def bandsSqlFrom(tbl: String) =
    (0 until Dedup.HashParams.size / Dedup.BandRows).map { b =>
      s"SELECT doc_id, $b AS band, ${Dedup.bandKeyExpr(b)} AS sigv FROM $tbl"
    }.mkString("\n        UNION ALL ")

  private val bandsSql = bandsSqlFrom("sig")

  private val simhashSums = (0 until Dedup.SimHashBits).map { i =>
    s"SUM(CASE WHEN (sh >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s_$i"
  }.mkString(", ")

  private val simhashBits = (0 until Dedup.SimHashBits).map { i =>
    s"CASE WHEN s_$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END"
  }.mkString(" + ")

  /** Band-bucket occupancy cap of the wide-SimHash contract — inert on
    * organic text (measured max occupancy 4 at sf0.1), present for the
    * hot collision classes (the phash/basket cap convention). */
  private val SimHashWideMaxBucket = 200L

  private val simhashWideSums = (0 until Dedup.SimHashWideBits).map { i =>
    val half = Dedup.SimHashWideBits / 2
    val (src, j) = if (i < half) ("a1", i) else ("a2", i - half)
    s"SUM(CASE WHEN ($src >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s_$i"
  }.mkString(", ")

  private val simhashWideBits = (0 until Dedup.SimHashWideBits).map { i =>
    s"CASE WHEN s_$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END"
  }.mkString(" + ")

  /** The full dedup_groups CTE chain — shingles → minhash bands →
    * verified dup pairs → GroupRounds unrolled min-label-propagation
    * rounds, ending at `l$GroupRounds(doc_id, rep)`. Shared by the
    * dedup_groups and dedup_keep_best oracles (also exposes `tok`
    * from the tokenizer prefix). */
  private lazy val groupsChainSql: String = {
    val rounds = (1 to GroupRounds).map { r =>
      val p = r - 1
      s"""n$r AS MATERIALIZED (SELECT ed.src AS doc_id, l.rep AS nrep
        |        FROM ed JOIN l$p l ON ed.dst = l.doc_id),
        |l$r AS MATERIALIZED (SELECT l.doc_id,
        |               least(MIN(l.rep), coalesce(MIN(n.nrep), MIN(l.rep))) AS rep
        |        FROM l$p l LEFT JOIN n$r n USING (doc_id) GROUP BY l.doc_id)""".stripMargin
    }.mkString(",\n")
    shingleSql + s""",
      |sig AS MATERIALIZED (SELECT doc_id, $sigSelect FROM shg GROUP BY doc_id),
      |bands AS MATERIALIZED ($bandsSql),
      |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc0, b.doc_id AS doc1
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.sigv = b.sigv AND a.doc_id < b.doc_id),
      |dups AS MATERIALIZED (SELECT doc0, doc1 FROM cand JOIN jac USING (doc0, doc1)
      |         WHERE jaccard >= 0.2),
      |ed AS (SELECT doc0 AS src, doc1 AS dst FROM dups
      |       UNION ALL SELECT doc1 AS src, doc0 AS dst FROM dups),
      |l0 AS (SELECT doc_id, doc_id AS rep FROM documents),
      |$rounds""".stripMargin
  }

  /** The cleanCorpus CTE chain (groups → election → quality bounds →
    * eval-shingle probe) up to the final SELECT — shared by the
    * corpus_clean and corpus_clean_split oracles. */
  private lazy val cleanChainSql: String = cleanChainSqlFor(EvalSource)

  /** [[cleanChainSql]] with a caller-chosen eval slice (corpus_select
    * holds out src1 so the DSIR target src0 stays a real domain). */
  private def cleanChainSqlFor(evalSource: String): String =
    groupsChainSql + s""",
      |tc AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS score
      |       FROM tok GROUP BY doc_id),
      |jb AS (SELECT l.doc_id, CAST(l.rep AS BIGINT) AS group_rep, tc.score
      |       FROM l$GroupRounds l JOIN tc USING (doc_id)),
      |bst AS (SELECT doc_id, group_rep, score,
      |               first_value(doc_id) OVER (PARTITION BY group_rep
      |                 ORDER BY score DESC, doc_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS best_id
      |        FROM jb),
      |kept AS MATERIALIZED (SELECT doc_id, group_rep FROM bst WHERE doc_id = best_id),
      |qst AS MATERIALIZED (SELECT doc_id,
      |        CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |        CAST(SUM(length(token)) AS DOUBLE) / COUNT(*) AS avg_token_len,
      |        CAST(SUM(CASE WHEN token IN ${TextEntries.inList(graft.ext.TextAnalysis.Stopwords)} THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS stopword_ratio,
      |        CAST(COUNT(DISTINCT token) AS DOUBLE) / COUNT(*) AS ttr
      |        FROM tok GROUP BY doc_id),
      |qual AS MATERIALIZED (SELECT doc_id, n_tokens FROM qst
      |         WHERE n_tokens >= ${TextEntries.QfMinTokens}
      |           AND n_tokens <= ${TextEntries.QfMaxTokens}
      |           AND avg_token_len >= ${TextEntries.QfMinAvgLen}
      |           AND avg_token_len <= ${TextEntries.QfMaxAvgLen}
      |           AND stopword_ratio <= ${TextEntries.QfMaxStop}
      |           AND ttr >= ${TextEntries.QfMinTtr}),
      |evs AS (SELECT DISTINCT s.sh FROM shg s JOIN documents d USING (doc_id)
      |        WHERE d.source = '$evalSource'),
      |cont AS MATERIALIZED (SELECT DISTINCT s.doc_id FROM shg s JOIN evs USING (sh))""".stripMargin

  /** Embedding pairwise-cosine CTE chain (unnest-based exact mirror). */
  val embCosSql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |u AS (SELECT vec_id, i, embedding[i+1]::DOUBLE AS v
      |      FROM e, UNNEST(range(len(embedding))) AS r(i)),
      |n AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM u GROUP BY 1),
      |d AS (SELECT a.vec_id AS v0, b.vec_id AS v1, SUM(a.v * b.v) AS dot
      |      FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
      |      GROUP BY 1, 2),
      |c AS (SELECT v0, v1, ${r6sql("dot / (na.nrm * nb.nrm)")} AS cosine
      |      FROM d JOIN n na ON na.vec_id = v0 JOIN n nb ON nb.vec_id = v1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS rep_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same canonicalization regexes as Dedup.normalizeText ('g' flag:
    // DuckDB replaces first match by default, Spark replaces all)
    "dedup_exact_norm" ->
      """WITH nt AS (SELECT doc_id,
        |            trim(regexp_replace(regexp_replace(lower(text),
        |              '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |            FROM documents)
        |SELECT doc_id, MIN(doc_id) OVER (PARTITION BY t) AS rep_id
        |FROM nt ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      (shingleSql + s"""
        |SELECT doc0, doc1, ${r6sql("jaccard")} AS jaccard FROM jac
        |WHERE jaccard >= 0.2 ORDER BY doc0, doc1""".stripMargin),
    // the same distinct-shingle chain, the same min-doc_id first-owner
    // attribution, one exact-rational division
    "dedup_novelty" ->
      (shgSql + s""",
        |fo AS (SELECT sh, MIN(doc_id) AS first_doc FROM shg GROUP BY 1)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  ${r6sql("CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)" +
           " / CAST(COUNT(*) AS DOUBLE)")} AS novelty
        |FROM shg s JOIN fo f USING (sh)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the same exact pair table, fanned out over the threshold grid;
    // comparisons use the unsnapped integer-operand ratio on both sides
    "dedup_threshold_sweep" ->
      (shingleSql + s""",
        |th AS (SELECT CAST(unnest([${SweepThresholds.mkString(", ")}]) AS DOUBLE) AS t),
        |hit AS MATERIALIZED (SELECT th.t, j.doc0, j.doc1
        |       FROM jac j JOIN th ON j.jaccard >= th.t),
        |np AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM hit GROUP BY 1),
        |nd AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_docs FROM
        |       (SELECT DISTINCT t, d FROM
        |         (SELECT t, doc0 AS d FROM hit
        |          UNION ALL SELECT t, doc1 FROM hit)) GROUP BY 1)
        |SELECT ${r6sql("th.t")} AS t,
        |  CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs
        |FROM th LEFT JOIN np USING (t) LEFT JOIN nd USING (t)
        |ORDER BY t""".stripMargin),
    // same exhaustive cosine chain + the dedup_embedding LSH candidate
    // CTEs; both routes snapped, so >= t replays identically
    "dedup_semantic_sweep" ->
      (embCosSql + s""",
        |hp AS (SELECT * FROM ${lshPlanesSql(64)}),
        |proj AS (SELECT u.vec_id, hp.k, SUM(hp.h * u.v) AS s
        |         FROM u JOIN hp ON hp.i = u.i GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |               CAST(SUM(CASE WHEN s > 0 THEN 1 << k ELSE 0 END) AS BIGINT) AS bucket
        |        FROM proj GROUP BY vec_id),
        |mk AS (SELECT * FROM $lshProbeMasksSql),
        |cnd AS MATERIALIZED (SELECT c.v0, c.v1, c.cosine
        |       FROM c
        |       JOIN bkt b0 ON b0.vec_id = c.v0
        |       JOIN bkt b1 ON b1.vec_id = c.v1
        |       JOIN mk ON xor(b0.bucket, b1.bucket) = CAST(mk.mask AS BIGINT)),
        |th AS (SELECT CAST(unnest([${SemSweepThresholds.mkString(", ")}]) AS DOUBLE) AS t),
        |hit AS MATERIALIZED (SELECT th.t, c.v0, c.v1
        |       FROM c JOIN th ON c.cosine >= th.t),
        |np AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM hit GROUP BY 1),
        |nd AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_docs FROM
        |       (SELECT DISTINCT t, d FROM
        |         (SELECT t, v0 AS d FROM hit
        |          UNION ALL SELECT t, v1 FROM hit)) GROUP BY 1),
        |nc AS (SELECT th.t, CAST(COUNT(*) AS BIGINT) AS n_cand
        |       FROM cnd JOIN th ON cnd.cosine >= th.t GROUP BY 1)
        |SELECT ${r6sql("th.t")} AS t,
        |  CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(nc.n_cand, 0) AS BIGINT) AS n_cand,
        |  ${r6sql("CASE WHEN COALESCE(np.n_pairs, 0) = 0 THEN 1.0 ELSE COALESCE(nc.n_cand, 0) / CAST(np.n_pairs AS DOUBLE) END")} AS lsh_recall
        |FROM th LEFT JOIN np USING (t) LEFT JOIN nd USING (t)
        |LEFT JOIN nc USING (t)
        |ORDER BY t""".stripMargin),
    // same bucket table, one candidate set per probe-mask depth;
    // COUNT(col) over the LEFT JOIN keeps empty thresholds at 0
    "dedup_semantic_sweep_probes" ->
      (embCosSql + s""",
        |hp AS (SELECT * FROM ${lshPlanesSql(64)}),
        |proj AS (SELECT u.vec_id, hp.k, SUM(hp.h * u.v) AS s
        |         FROM u JOIN hp ON hp.i = u.i GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |               CAST(SUM(CASE WHEN s > 0 THEN 1 << k ELSE 0 END) AS BIGINT) AS bucket
        |        FROM proj GROUP BY vec_id),
        |mk1 AS (SELECT * FROM ${probeMasksSql(1)} v(mask)),
        |mk2 AS (SELECT * FROM ${probeMasksSql(2)} v(mask)),
        |cnd1 AS MATERIALIZED (SELECT c.v0, c.v1, c.cosine FROM c
        |       JOIN bkt b0 ON b0.vec_id = c.v0
        |       JOIN bkt b1 ON b1.vec_id = c.v1
        |       JOIN mk1 ON xor(b0.bucket, b1.bucket) = CAST(mk1.mask AS BIGINT)),
        |cnd2 AS MATERIALIZED (SELECT c.v0, c.v1, c.cosine FROM c
        |       JOIN bkt b0 ON b0.vec_id = c.v0
        |       JOIN bkt b1 ON b1.vec_id = c.v1
        |       JOIN mk2 ON xor(b0.bucket, b1.bucket) = CAST(mk2.mask AS BIGINT)),
        |th AS (SELECT CAST(unnest([${SemSweepThresholds.mkString(", ")}]) AS DOUBLE) AS t),
        |np AS (SELECT th.t, CAST(COUNT(c.v0) AS BIGINT) AS n_pairs
        |       FROM th LEFT JOIN c ON c.cosine >= th.t GROUP BY 1),
        |h1 AS (SELECT th.t, CAST(COUNT(c1.v0) AS BIGINT) AS n_cand
        |       FROM th LEFT JOIN cnd1 c1 ON c1.cosine >= th.t GROUP BY 1),
        |h2 AS (SELECT th.t, CAST(COUNT(c2.v0) AS BIGINT) AS n_cand
        |       FROM th LEFT JOIN cnd2 c2 ON c2.cosine >= th.t GROUP BY 1),
        |uu AS (SELECT t, CAST(1 AS BIGINT) AS h, n_cand,
        |              (SELECT CAST(COUNT(*) AS BIGINT) FROM cnd1) AS cand_volume
        |       FROM h1
        |       UNION ALL
        |       SELECT t, CAST(2 AS BIGINT) AS h, n_cand,
        |              (SELECT CAST(COUNT(*) AS BIGINT) FROM cnd2) AS cand_volume
        |       FROM h2)
        |SELECT ${r6sql("uu.t")} AS t, uu.h, np.n_pairs, uu.n_cand, uu.cand_volume,
        |  ${r6sql("CASE WHEN np.n_pairs = 0 THEN 1.0 ELSE uu.n_cand / CAST(np.n_pairs AS DOUBLE) END")} AS recall
        |FROM uu JOIN np USING (t)
        |ORDER BY t, h""".stripMargin),
    // unigram tf, df-capped vocabulary, Σmin via the token-keyed pair
    // join, Σmax reconstructed from per-doc totals (S0 + S1 − Σmin);
    // the threshold compares the UNsnapped ratio on both sides (all
    // operands are exact integers, so the division is bit-identical)
    "dedup_weighted_jaccard" ->
      (TextEntries.tokSql + s""",
        |tf AS MATERIALIZED (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |keep AS (SELECT token FROM tf GROUP BY token
        |         HAVING COUNT(*) <= $WjMaxDf),
        |ctf AS MATERIALIZED (SELECT tf.* FROM tf JOIN keep USING (token)),
        |s AS MATERIALIZED (SELECT doc_id, SUM(tf) AS s FROM ctf GROUP BY 1),
        |sm AS (SELECT a.doc_id AS doc0, b.doc_id AS doc1,
        |              SUM(LEAST(a.tf, b.tf)) AS smin
        |       FROM ctf a JOIN ctf b ON a.token = b.token
        |        AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |wj AS (SELECT doc0, doc1,
        |              smin / CAST(s0.s + s1.s - smin AS DOUBLE) AS w
        |       FROM sm JOIN s s0 ON s0.doc_id = doc0
        |               JOIN s s1 ON s1.doc_id = doc1)
        |SELECT doc0, doc1, ${r6sql("w")} AS wjaccard
        |FROM wj WHERE w >= $WjMin ORDER BY doc0, doc1""".stripMargin),
    // same planted corpus, same normalize, same blocking rule; DuckDB's
    // levenshtein is the identical unit-cost edit distance (Spark's
    // thresholded form returns the true distance whenever it is ≤ cap)
    "dedup_editdist" ->
      s"""WITH u AS (
        |  SELECT doc_id, substr(text, 1, 60) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, substr(text, 1, 57) || ' zz' AS t
        |  FROM documents WHERE doc_id % 4 = 0),
        |n AS (SELECT doc_id,
        |      trim(regexp_replace(regexp_replace(lower(t),
        |        '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS txt
        |      FROM u),
        |k AS (SELECT doc_id, txt, substr(txt, 1, $EditPrefix) AS blk,
        |             length(txt) AS len FROM n)
        |SELECT a.doc_id AS doc0, b.doc_id AS doc1,
        |       CAST(levenshtein(a.txt, b.txt) AS BIGINT) AS dist
        |FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE abs(a.len - b.len) <= $EditMax
        |  AND levenshtein(a.txt, b.txt) <= $EditMax
        |ORDER BY doc0, doc1""".stripMargin,
    // same planted corpus + normalize as dedup_editdist; the global
    // order is a plain row_number here (the oracle need not be
    // scale-shaped) over the SAME packed-prefix key expression, then
    // the d ∈ [1, w) successor join and the levenshtein verify
    "dedup_sorted_neighborhood" ->
      s"""WITH u AS (
        |  SELECT doc_id, substr(text, 1, 60) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, substr(text, 1, 57) || ' zz' AS t
        |  FROM documents WHERE doc_id % 4 = 0),
        |n AS (SELECT doc_id,
        |      trim(regexp_replace(regexp_replace(lower(t),
        |        '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS txt
        |      FROM u),
        |k AS (SELECT doc_id, txt, ${Dedup.snmKeySql("txt")} AS key FROM n),
        |r AS (SELECT doc_id, txt,
        |             row_number() OVER (ORDER BY key, doc_id) - 1 AS g
        |      FROM k),
        |cand AS (SELECT a.doc_id AS ida, a.txt AS ta, b.doc_id AS idb, b.txt AS tb
        |         FROM r a, UNNEST(range(1, $SnmWindow)) rd(d)
        |         JOIN r b ON b.g = a.g + d)
        |SELECT LEAST(ida, idb) AS doc0, GREATEST(ida, idb) AS doc1,
        |       CAST(levenshtein(ta, tb) AS BIGINT) AS dist
        |FROM cand
        |WHERE abs(length(ta) - length(tb)) <= $EditMax
        |  AND levenshtein(ta, tb) <= $EditMax
        |ORDER BY doc0, doc1""".stripMargin,
    // exhaustive-kernel oracle at the prefix contract's threshold: the
    // prefix filter is lossless, so the independent full join must agree
    "dedup_jaccard_prefix" ->
      (shingleSql + s"""
        |SELECT doc0, doc1, ${r6sql("jaccard")} AS jaccard FROM jac
        |WHERE jaccard >= $PrefixJac ORDER BY doc0, doc1""".stripMargin),
    // the boilerplate-head pair: exhaustive kernel over the planted
    // fixture; the capped twin's kernel runs over the df-capped shingle
    // population (the same population the Spark side caps BEFORE both
    // the candidate and the verify branch — a green row proves the
    // prefix filter stays lossless over the capped population)
    "dedup_jaccard_prefix_head" -> prefixHeadSql(None),
    "dedup_jaccard_prefix_head_capped" -> prefixHeadSql(Some(PrefixHeadMaxDf)),
    // the kernel router: the three-regime fixture rebuilt verbatim, the
    // shingle chain per regime-banded rid, and the integer rule ladder
    "dedup_auto" -> {
      val tv = TextHash.tokenValue("token")
      val cap = Dedup.AutoRouteMaxDf
      val bud = Dedup.AutoRouteBudgetPerDoc
      s"""WITH rd AS (
        |  SELECT doc_id AS rid, 'benign' AS regime, text
        |  FROM documents WHERE doc_id % 101 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'headed', text || '$BpSuffix'
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'template',
        |         '$AutoTemplate' || CAST(doc_id % 12 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 1),
        |t AS (SELECT rid, regime, string_split_regex(text, '\\s+') AS toks FROM rd),
        |tok AS (SELECT rid, regime, CAST(i AS BIGINT) AS pos, toks[i+1] AS token
        |        FROM t, UNNEST(range(len(toks))) AS r(i) WHERE toks[i+1] <> ''),
        |tvs AS (SELECT rid, regime, pos, $tv AS v FROM tok),
        |tv3 AS (SELECT rid, regime, v,
        |        lead(v, 1) OVER (PARTITION BY rid ORDER BY pos) AS v2,
        |        lead(v, 2) OVER (PARTITION BY rid ORDER BY pos) AS v3
        |        FROM tvs),
        |shg AS MATERIALIZED (SELECT DISTINCT rid, regime,
        |        ${TextHash.shingleHash("v", "v2", "v3")} AS sh
        |        FROM tv3 WHERE v3 IS NOT NULL),
        |${pairSurfaceSql("shg", "regime", "sh", cap)},
        |nd AS (SELECT regime, CAST(COUNT(DISTINCT rid) AS BIGINT) AS n_docs
        |       FROM shg GROUP BY 1)
        |SELECT a.regime, nd.n_docs, a.postings, a.max_df, a.uncapped_pairs,
        |  a.capped_pairs, a.retained_postings,
        |  nd.n_docs * $bud AS budget_pairs,
        |  CASE WHEN a.uncapped_pairs <= nd.n_docs * $bud THEN 'exact'
        |       WHEN a.capped_pairs <= nd.n_docs * $bud
        |            AND a.retained_postings * 2 >= a.postings THEN 'prefix_dfcap'
        |       ELSE 'minhash_banded' END AS kernel
        |FROM agg a JOIN nd USING (regime) ORDER BY regime""".stripMargin
    },
    "dedup_containment" ->
      (shingleSql + s"""
        |SELECT doc0, doc1,
        |       ${r6sql("CAST(i AS DOUBLE) / least(c0.n, c1.n)")} AS containment,
        |       c0.n AS n0, c1.n AS n1
        |FROM inter JOIN cnt c0 ON c0.doc_id = doc0 JOIN cnt c1 ON c1.doc_id = doc1
        |WHERE CAST(i AS DOUBLE) / least(c0.n, c1.n) >= 0.6
        |ORDER BY doc0, doc1""".stripMargin),
    // MOD_m sketch mirror: same selector hash, same mod, containment
    // estimated on sketch sizes only (Dedup.containmentSketchDups)
    "dedup_containment_sketch" ->
      (shgSql + s""",
        |sk AS (SELECT doc_id, sh FROM shg
        |       WHERE ((${Dedup.SketchHashA} * sh + ${Dedup.SketchHashB}) % $M)
        |             % ${Dedup.SketchMod} = 0),
        |scnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sk GROUP BY 1),
        |sint AS (SELECT a.doc_id AS doc0, b.doc_id AS doc1,
        |                CAST(COUNT(*) AS BIGINT) AS i
        |         FROM sk a JOIN sk b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2)
        |SELECT doc0, doc1,
        |       ${r6sql("CAST(i AS DOUBLE) / least(c0.n, c1.n)")} AS containment,
        |       c0.n AS sk0, c1.n AS sk1
        |FROM sint JOIN scnt c0 ON c0.doc_id = doc0 JOIN scnt c1 ON c1.doc_id = doc1
        |WHERE CAST(i AS DOUBLE) / least(c0.n, c1.n) >= 0.6
        |ORDER BY doc0, doc1""".stripMargin),
    // df-capped Jaccard mirror: shingles above the cap removed BEFORE
    // counts and intersections (Dedup.dfCapShingles semantics)
    "dedup_jaccard_dfcap" ->
      (shgSql + s""",
        |keep AS (SELECT sh FROM shg GROUP BY sh HAVING COUNT(*) <= $JacMaxDf),
        |cap AS (SELECT s.doc_id, s.sh FROM shg s JOIN keep USING (sh)),
        |ccnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM cap GROUP BY 1),
        |cint AS (SELECT a.doc_id AS doc0, b.doc_id AS doc1,
        |                CAST(COUNT(*) AS BIGINT) AS i
        |         FROM cap a JOIN cap b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |cjac AS (SELECT doc0, doc1, CAST(i AS DOUBLE) / (c0.n + c1.n - i) AS jaccard
        |         FROM cint JOIN ccnt c0 ON c0.doc_id = doc0
        |                   JOIN ccnt c1 ON c1.doc_id = doc1)
        |SELECT doc0, doc1, ${r6sql("jaccard")} AS jaccard FROM cjac
        |WHERE jaccard >= 0.2 ORDER BY doc0, doc1""".stripMargin),
    "dedup_minhash_lsh" ->
      (shingleSql + s""",
        |sig AS MATERIALIZED (SELECT doc_id, $sigSelect FROM shg GROUP BY doc_id),
        |bands AS MATERIALIZED ($bandsSql),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc0, b.doc_id AS doc1
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.sigv = b.sigv AND a.doc_id < b.doc_id)
        |SELECT doc0, doc1, ${r6sql("jaccard")} AS jaccard
        |FROM cand JOIN jac USING (doc0, doc1)
        |WHERE jaccard >= 0.2 ORDER BY doc0, doc1""".stripMargin),
    "dedup_source_matrix" ->
      (shingleSql + s""",
        |sig AS MATERIALIZED (SELECT doc_id, $sigSelect FROM shg GROUP BY doc_id),
        |bands AS MATERIALIZED ($bandsSql),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc0, b.doc_id AS doc1
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.sigv = b.sigv AND a.doc_id < b.doc_id),
        |mh AS (SELECT doc0, doc1, jaccard
        |       FROM cand JOIN jac USING (doc0, doc1) WHERE jaccard >= 0.2),
        |s AS (SELECT doc_id, source FROM documents)
        |SELECT least(a.source, b.source) AS src0,
        |       greatest(a.source, b.source) AS src1,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       ${r6sql("AVG(jaccard)")} AS avg_jaccard
        |FROM mh JOIN s a ON a.doc_id = mh.doc0
        |        JOIN s b ON b.doc_id = mh.doc1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // the same leakage matrix keyed by the deterministic split hash —
    // split names replayed from Export.mixBucketSql exactly as
    // split_assign's oracle does
    "dedup_split_leakage" -> {
      val mix = Export.mixBucketSql("doc_id", 1000, 0L)
      shingleSql + s""",
        |sig AS MATERIALIZED (SELECT doc_id, $sigSelect FROM shg GROUP BY doc_id),
        |bands AS MATERIALIZED ($bandsSql),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc0, b.doc_id AS doc1
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.sigv = b.sigv AND a.doc_id < b.doc_id),
        |mh AS (SELECT doc0, doc1, jaccard
        |       FROM cand JOIN jac USING (doc0, doc1) WHERE jaccard >= 0.2),
        |s AS (SELECT doc_id, CASE WHEN $mix < 800 THEN 'train'
        |                          WHEN $mix < 900 THEN 'val'
        |                          ELSE 'test' END AS split FROM documents)
        |SELECT least(a.split, b.split) AS src0,
        |       greatest(a.split, b.split) AS src1,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       ${r6sql("AVG(jaccard)")} AS avg_jaccard
        |FROM mh JOIN s a ON a.doc_id = mh.doc0
        |        JOIN s b ON b.doc_id = mh.doc1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "dedup_simhash" ->
      (shingleSql + s""",
        |sums AS (SELECT doc_id, $simhashSums FROM shg GROUP BY doc_id),
        |sh64 AS (SELECT doc_id, ($simhashBits) AS simhash FROM sums)
        |SELECT a.doc_id AS doc0, b.doc_id AS doc1,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh64 a JOIN sh64 b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc0, doc1""".stripMargin),
    // wide twin: the banding + occupancy-cap candidate rule is mirrored
    // EXACTLY (kb/keep CTEs = the Spark left_semi cap) — unlike the
    // narrow oracle above, the cap makes banding part of the contract
    "dedup_simhash_wide" -> {
      val chunkBits = Dedup.SimHashWideBits / Dedup.SimHashWideChunks
      val mask = (1L << chunkBits) - 1
      shgSql + s""",
        |av AS (SELECT doc_id,
        |         ${TextHash.avalancheSql("sh", Dedup.SimHashWideSaltA)} AS a1,
        |         ${TextHash.avalancheSql("sh", Dedup.SimHashWideSaltB)} AS a2
        |       FROM shg),
        |sums AS (SELECT doc_id, $simhashWideSums FROM av GROUP BY doc_id),
        |shw AS MATERIALIZED (SELECT doc_id, ($simhashWideBits) AS simhash FROM sums),
        |ch AS (SELECT doc_id, simhash, c AS chunk,
        |              (simhash >> (c * $chunkBits)) & $mask AS cval
        |       FROM shw, UNNEST(range(${Dedup.SimHashWideChunks})) AS rc(c)),
        |keep AS (SELECT chunk, cval FROM ch GROUP BY chunk, cval
        |         HAVING COUNT(*) <= $SimHashWideMaxBucket),
        |kb AS MATERIALIZED (SELECT ch.* FROM ch JOIN keep USING (chunk, cval)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc0, b.doc_id AS doc1,
        |                a.simhash AS h0, b.simhash AS h1
        |         FROM kb a JOIN kb b ON a.chunk = b.chunk AND a.cval = b.cval
        |          AND a.doc_id < b.doc_id)
        |SELECT doc0, doc1, CAST(bit_count(xor(h0, h1)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(h0, h1)) <= 3
        |ORDER BY doc0, doc1""".stripMargin
    },
    // candidate rule mirrored from Embeddings.lshNearPairs: only pairs whose
    // sign-LSH buckets are within hamming 1 are cosine-verified
    "dedup_embedding" ->
      (embCosSql + s""",
        |hp AS (SELECT * FROM ${lshPlanesSql(64)}),
        |proj AS (SELECT u.vec_id, hp.k, SUM(hp.h * u.v) AS s
        |         FROM u JOIN hp ON hp.i = u.i GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |               CAST(SUM(CASE WHEN s > 0 THEN 1 << k ELSE 0 END) AS BIGINT) AS bucket
        |        FROM proj GROUP BY vec_id),
        |mk AS (SELECT * FROM $lshProbeMasksSql)
        |SELECT c.v0, c.v1, c.cosine
        |FROM c
        |JOIN bkt b0 ON b0.vec_id = c.v0
        |JOIN bkt b1 ON b1.vec_id = c.v1
        |JOIN mk ON xor(b0.bucket, b1.bucket) = CAST(mk.mask AS BIGINT)
        |WHERE c.cosine >= 0.4 ORDER BY v0, v1""".stripMargin),
    // shingles over ALL documents, then split by source inside the query:
    // per-document shingling is independent of other docs, so filtering
    // after shingling equals the Spark side's shingling of filtered docs
    "decontaminate" ->
      (shgSql + s""",
        |ev AS (SELECT DISTINCT s.sh FROM shg s JOIN documents d USING (doc_id)
        |       WHERE d.source = '$EvalSource'),
        |tr AS (SELECT s.doc_id, s.sh FROM shg s JOIN documents d USING (doc_id)
        |       WHERE d.source <> '$EvalSource')
        |SELECT tr.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_shingles,
        |       ${r6sql("CAST(SUM(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS contamination
        |FROM tr LEFT JOIN ev ON tr.sh = ev.sh
        |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin),
    // the trigram probe at gram width 13: same split-inside-the-query
    // argument (per-doc shingling is independent of other docs)
    "decontaminate_13gram" ->
      (shgKSql(WideGram) + s""",
        |ev AS (SELECT DISTINCT s.sh FROM shgk s JOIN documents d USING (doc_id)
        |       WHERE d.source = '$EvalSource'),
        |tr AS (SELECT s.doc_id, s.sh FROM shgk s JOIN documents d USING (doc_id)
        |       WHERE d.source <> '$EvalSource')
        |SELECT tr.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_shingles,
        |       ${r6sql("CAST(SUM(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS contamination
        |FROM tr LEFT JOIN ev ON tr.sh = ev.sh
        |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin),
    // same stride-1 character windows via range+substr, same distinct
    // collapse per side, same left-join probe — matching on the SAME
    // fixed-width 120-bit sha256-prefix pair the Spark side shuffles
    // (r9 ask #3: both engines hash, so the contract covers the hash)
    "decontaminate_substring" -> {
      val L = graft.ext.Dedup.SubstrLen
      def h(part: Int) =
        graft.ext.Dedup.substringHashSqlDuck(s"substr(d.text, r.i + 1, $L)", part)
      s"""WITH tg AS MATERIALIZED (
        |  SELECT DISTINCT d.doc_id, ${h(1)} AS g1, ${h(2)} AS g2
        |  FROM documents d, UNNEST(range(length(d.text) - ${L - 1})) AS r(i)
        |  WHERE d.source <> '$EvalSource' AND length(d.text) >= $L),
        |ev AS MATERIALIZED (
        |  SELECT DISTINCT ${h(1)} AS g1, ${h(2)} AS g2
        |  FROM documents d, UNNEST(range(length(d.text) - ${L - 1})) AS r(i)
        |  WHERE d.source = '$EvalSource' AND length(d.text) >= $L)
        |SELECT tg.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_grams,
        |       CAST(SUM(CASE WHEN ev.g1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_grams,
        |       ${r6sql("CAST(SUM(CASE WHEN ev.g1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS contamination
        |FROM tg LEFT JOIN ev ON tg.g1 = ev.g1 AND tg.g2 = ev.g2
        |GROUP BY tg.doc_id ORDER BY doc_id""".stripMargin
    },
    // the same Bloom chain: k salted avalanche positions per shingle,
    // distinct set-bit table, all-k-positions-hit flag per train shingle
    "decontaminate_bloom" -> {
      val evalBits = (0 until Dedup.BloomHashes)
        .map(i => s"SELECT DISTINCT ${Dedup.bloomPosSql("sh", i)} AS pos FROM ev")
        .mkString("\n        UNION ")
      val trainProbes = (0 until Dedup.BloomHashes)
        .map(i => s"SELECT doc_id, sh, ${Dedup.bloomPosSql("sh", i)} AS pos FROM tr")
        .mkString("\n        UNION ALL ")
      shgSql + s""",
        |ev AS (SELECT s.sh FROM shg s JOIN documents d USING (doc_id)
        |       WHERE d.source = '$EvalSource'),
        |tr AS (SELECT s.doc_id, s.sh FROM shg s JOIN documents d USING (doc_id)
        |       WHERE d.source <> '$EvalSource'),
        |bits AS ($evalBits),
        |pr AS ($trainProbes),
        |shf AS (SELECT pr.doc_id, pr.sh,
        |               CASE WHEN CAST(SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |                    = ${Dedup.BloomHashes} THEN 1 ELSE 0 END AS flag
        |        FROM pr LEFT JOIN bits b ON b.pos = pr.pos
        |        GROUP BY pr.doc_id, pr.sh)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(flag) AS BIGINT) AS flagged_shingles,
        |       ${r6sql("CAST(SUM(flag) AS DOUBLE) / COUNT(*)")} AS flag_fraction
        |FROM shf GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // cross-corpus MinHash bands + exact-Jaccard verify, mirroring
    // Dedup.fuzzyContamination over the same src0 split
    "decontaminate_fuzzy" ->
      (shgSql + s""",
        |trsh AS (SELECT s.doc_id, s.sh FROM shg s JOIN documents d USING (doc_id)
        |         WHERE d.source <> '$EvalSource'),
        |evsh AS (SELECT s.doc_id, s.sh FROM shg s JOIN documents d USING (doc_id)
        |         WHERE d.source = '$EvalSource'),
        |trsig AS (SELECT doc_id, $sigSelect FROM trsh GROUP BY doc_id),
        |evsig AS (SELECT doc_id, $sigSelect FROM evsh GROUP BY doc_id),
        |trb AS (${bandsSqlFrom("trsig")}),
        |evb AS (${bandsSqlFrom("evsig")}),
        |cand AS (SELECT DISTINCT t.doc_id AS doc0, e.doc_id AS doc1
        |         FROM trb t JOIN evb e ON t.band = e.band AND t.sigv = e.sigv),
        |allsh AS (SELECT * FROM trsh UNION ALL SELECT * FROM evsh),
        |cnt2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM allsh GROUP BY 1),
        |inter2 AS (SELECT c.doc0, c.doc1, CAST(COUNT(*) AS BIGINT) AS i
        |           FROM cand c
        |           JOIN allsh a ON a.doc_id = c.doc0
        |           JOIN allsh b ON b.doc_id = c.doc1 AND b.sh = a.sh
        |           GROUP BY 1, 2),
        |jac2 AS (SELECT doc0, doc1, CAST(i AS DOUBLE) / (c0.n + c1.n - i) AS jaccard
        |         FROM inter2 JOIN cnt2 c0 ON c0.doc_id = doc0
        |                     JOIN cnt2 c1 ON c1.doc_id = doc1)
        |SELECT doc0 AS doc_id, doc1 AS eval_id, ${r6sql("jaccard")} AS jaccard
        |FROM jac2 WHERE jaccard >= 0.2 ORDER BY doc_id, eval_id""".stripMargin),
    // GroupRounds unrolled min-label-propagation rounds over the minhash
    // dup pairs, mirroring Dedup.dupGroups exactly (fixed-rounds contract)
    "dedup_groups" ->
      (groupsChainSql + s"""
        |SELECT doc_id, CAST(rep AS BIGINT) AS group_rep
        |FROM l$GroupRounds ORDER BY doc_id""".stripMargin),
    // planted mega-star over the orders key space: the hub is the global
    // minimum id, so every spoke's representative is the hub after one
    // round — closed form, shared by the plain and salted plans
    "dedup_groups_skew" -> SkewStarSql,
    "dedup_groups_skew_salted" -> SkewStarSql,
    // the dedup_groups chain + token-count scores + per-group electee
    // via a full-frame first_value, mirroring Dedup.keepBest's window
    "dedup_keep_best" ->
      (groupsChainSql + s""",
        |tc AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS score
        |       FROM tok GROUP BY doc_id),
        |jb AS (SELECT l.doc_id, CAST(l.rep AS BIGINT) AS group_rep, tc.score
        |       FROM l$GroupRounds l JOIN tc USING (doc_id)),
        |bst AS (SELECT doc_id, group_rep, score,
        |               first_value(doc_id) OVER (PARTITION BY group_rep
        |                 ORDER BY score DESC, doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS best_id
        |        FROM jb)
        |SELECT doc_id, group_rep, score, best_id,
        |       CAST(CASE WHEN doc_id = best_id THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM bst ORDER BY doc_id""".stripMargin),
    // the dedup_groups chain + the mix chain hashed on the REP — the
    // same split names as split_assign's oracle, leakage-free by key
    "split_by_group" -> {
      val mix = Export.mixBucketSql("group_rep", 1000, 0L)
      groupsChainSql + s""",
        |g AS (SELECT doc_id, CAST(rep AS BIGINT) AS group_rep FROM l$GroupRounds)
        |SELECT doc_id, group_rep,
        |       CASE WHEN $mix < 800 THEN 'train'
        |            WHEN $mix < 900 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM g ORDER BY doc_id""".stripMargin
    },
    // the dedup_groups chain collapsed twice: rep -> size, size -> counts
    "dedup_group_sizes" ->
      (groupsChainSql + s""",
        |gs AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS group_size
        |       FROM l$GroupRounds GROUP BY rep)
        |SELECT group_size,
        |       CAST(COUNT(*) AS BIGINT) AS n_groups,
        |       CAST(SUM(group_size) AS BIGINT) AS n_docs
        |FROM gs GROUP BY group_size ORDER BY group_size""".stripMargin),
    // positioned trigram hashes (filtered 1-based index p), frame-truncated
    // window minima, rightmost argmin per window, selections deduplicated —
    // mirroring Dedup.winnow's row-local fold exactly
    "doc_winnow" -> {
      val w = Dedup.WinnowWindow
      val tv = TextHash.tokenValue("token")
      TextEntries.tokSql + s""",
        |tvp AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p,
        |               $tv AS v FROM tok),
        |wtv3 AS (SELECT doc_id, p, v,
        |        lead(v, 1) OVER (PARTITION BY doc_id ORDER BY p) AS v2,
        |        lead(v, 2) OVER (PARTITION BY doc_id ORDER BY p) AS v3
        |        FROM tvp),
        |tri AS (SELECT doc_id, p, ${TextHash.shingleHash("v", "v2", "v3")} AS h
        |        FROM wtv3 WHERE v3 IS NOT NULL),
        |mw AS (SELECT doc_id, p AS wstart,
        |              MIN(h) OVER (PARTITION BY doc_id ORDER BY p
        |                ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mh
        |       FROM tri),
        |sel AS (SELECT mw.doc_id, mw.wstart, MAX(t.p) AS pos, mw.mh AS fp
        |        FROM mw JOIN tri t ON t.doc_id = mw.doc_id
        |             AND t.p BETWEEN mw.wstart AND mw.wstart + ${w - 1}
        |             AND t.h = mw.mh
        |        GROUP BY 1, 2, 4)
        |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, CAST(fp AS BIGINT) AS fp
        |FROM sel ORDER BY doc_id, pos""".stripMargin
    },
    // same sig/band/cand chain; per-pair agreement count over the 16
    // signature columns, exact jaccard left-joined (no-overlap → 0)
    "dedup_minhash_estimate" -> {
      val agree = Dedup.HashParams.indices
        .map(j => s"CASE WHEN a.sig_$j = b.sig_$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      val nH = Dedup.HashParams.size
      shingleSql + s""",
        |sig AS MATERIALIZED (SELECT doc_id, $sigSelect FROM shg GROUP BY doc_id),
        |bands AS MATERIALIZED ($bandsSql),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc0, b.doc_id AS doc1
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.sigv = b.sigv AND a.doc_id < b.doc_id),
        |ag AS (SELECT c.doc0, c.doc1, CAST($agree AS BIGINT) AS n_agree
        |       FROM cand c JOIN sig a ON a.doc_id = c.doc0
        |                   JOIN sig b ON b.doc_id = c.doc1)
        |SELECT ag.doc0, ag.doc1, ag.n_agree,
        |       ${r6sql(s"ag.n_agree / $nH.0")} AS j_est,
        |       ${r6sql("COALESCE(jac.jaccard, 0.0)")} AS jaccard,
        |       ${r6sql(s"abs(ag.n_agree / $nH.0 - COALESCE(jac.jaccard, 0.0))")} AS abs_err
        |FROM ag LEFT JOIN jac USING (doc0, doc1)
        |ORDER BY doc0, doc1""".stripMargin
    },
    // the same candidates and signatures, lowest-bit agreement with the
    // identical debias arithmetic next to the full-signature estimate
    "dedup_minhash_bbit" -> {
      val bitAgree = Dedup.HashParams.indices
        .map(j => s"CASE WHEN a.sig_$j % 2 = b.sig_$j % 2 THEN 1 ELSE 0 END")
        .mkString(" + ")
      val fullAgree = Dedup.HashParams.indices
        .map(j => s"CASE WHEN a.sig_$j = b.sig_$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      val nH = Dedup.HashParams.size
      val j1 = s"greatest(0.0, 2.0 * (CAST(n_bit_agree AS DOUBLE) / $nH.0) - 1.0)"
      shingleSql + s""",
        |sig AS MATERIALIZED (SELECT doc_id, $sigSelect FROM shg GROUP BY doc_id),
        |bands AS MATERIALIZED ($bandsSql),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc0, b.doc_id AS doc1
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.sigv = b.sigv AND a.doc_id < b.doc_id),
        |ag AS (SELECT c.doc0, c.doc1,
        |         CAST($bitAgree AS BIGINT) AS n_bit_agree,
        |         CAST($fullAgree AS BIGINT) AS n_agree
        |       FROM cand c JOIN sig a ON a.doc_id = c.doc0
        |                   JOIN sig b ON b.doc_id = c.doc1)
        |SELECT ag.doc0, ag.doc1, ag.n_bit_agree, ag.n_agree,
        |       ${r6sql(j1)} AS j_est_1bit,
        |       ${r6sql(s"CAST(n_agree AS DOUBLE) / $nH.0")} AS j_est_full,
        |       ${r6sql("COALESCE(jac.jaccard, 0.0)")} AS jaccard,
        |       ${r6sql(s"abs(($j1) - COALESCE(jac.jaccard, 0.0))")} AS abs_err_1bit
        |FROM ag LEFT JOIN jac USING (doc0, doc1)
        |ORDER BY doc0, doc1""".stripMargin
    },
    // exact pairs decile-bucketed on the SNAPPED jaccard (identical
    // float ops both engines), left-joined to the banded candidates
    "dedup_recall" ->
      (shingleSql + s""",
        |sig AS MATERIALIZED (SELECT doc_id, $sigSelect FROM shg GROUP BY doc_id),
        |bands AS MATERIALIZED ($bandsSql),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc0, b.doc_id AS doc1
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.sigv = b.sigv AND a.doc_id < b.doc_id),
        |ex AS (SELECT doc0, doc1, ${r6sql("jaccard")} AS sj FROM jac
        |       WHERE jaccard >= $RecallFloor),
        |fl AS (SELECT least(CAST(floor(sj * 10.0) AS BIGINT), 9) AS bucket,
        |              CASE WHEN c.doc0 IS NULL THEN 0 ELSE 1 END AS found
        |       FROM ex LEFT JOIN cand c USING (doc0, doc1))
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(found) AS BIGINT) AS n_found,
        |       ${r6sql("CAST(SUM(found) AS DOUBLE) / COUNT(*)")} AS recall
        |FROM fl GROUP BY bucket ORDER BY bucket""".stripMargin),
    // the groups chain + keep-best election + quality bounds + eval
    // shingle probe, composed exactly like Pipelines.cleanCorpus
    "corpus_clean" ->
      (cleanChainSql + s"""
        |SELECT q.doc_id, k.group_rep, q.n_tokens
        |FROM qual q JOIN kept k USING (doc_id) JOIN documents d USING (doc_id)
        |WHERE d.source <> '$EvalSource'
        |  AND q.doc_id NOT IN (SELECT doc_id FROM cont)
        |ORDER BY q.doc_id""".stripMargin),
    // the clean chain (src1 eval slice) + the ds-prefixed DSIR CTEs,
    // ranked over the snapped weights of the clean RAW survivors
    "corpus_select" ->
      (cleanChainSqlFor(SelectEvalSource) + TextEntries.dsirCtesSql + s""",
        |cln AS (SELECT q.doc_id, k.group_rep, q.n_tokens
        |        FROM qual q JOIN kept k USING (doc_id)
        |        JOIN documents d USING (doc_id)
        |        WHERE d.source <> '$SelectEvalSource'
        |          AND q.doc_id NOT IN (SELECT doc_id FROM cont)),
        |dw AS (SELECT d.doc_id, ${r6sql("SUM(tf * lw)")} AS log_weight
        |       FROM dstf d JOIN dslw USING (j)
        |       WHERE d.is_target = 0 GROUP BY 1),
        |rk AS (SELECT c.doc_id, c.group_rep, c.n_tokens, dw.log_weight,
        |              CAST(row_number() OVER (ORDER BY dw.log_weight DESC, c.doc_id) AS BIGINT) AS rank
        |       FROM cln c JOIN dw USING (doc_id))
        |SELECT doc_id, group_rep, n_tokens, log_weight, rank
        |FROM rk WHERE rank <= $SelectM ORDER BY rank""".stripMargin),
    // identical selection to corpus_select (the physical plan is what
    // differs on the Spark side) plus the rank-derived export shard
    "corpus_select_shards" ->
      (cleanChainSqlFor(SelectEvalSource) + TextEntries.dsirCtesSql + s""",
        |cln AS (SELECT q.doc_id, k.group_rep, q.n_tokens
        |        FROM qual q JOIN kept k USING (doc_id)
        |        JOIN documents d USING (doc_id)
        |        WHERE d.source <> '$SelectEvalSource'
        |          AND q.doc_id NOT IN (SELECT doc_id FROM cont)),
        |dw AS (SELECT d.doc_id, ${r6sql("SUM(tf * lw)")} AS log_weight
        |       FROM dstf d JOIN dslw USING (j)
        |       WHERE d.is_target = 0 GROUP BY 1),
        |rk AS (SELECT c.doc_id, c.group_rep, c.n_tokens, dw.log_weight,
        |              CAST(row_number() OVER (ORDER BY dw.log_weight DESC, c.doc_id) AS BIGINT) AS rank
        |       FROM cln c JOIN dw USING (doc_id))
        |SELECT doc_id, group_rep, n_tokens, log_weight, rank,
        |       CAST(floor(((rank - 1) * $SelectShards) / $SelectM) AS BIGINT) AS shard
        |FROM rk WHERE rank <= $SelectM ORDER BY rank""".stripMargin),
    // cumulative per-gate survivor counts over the same chain
    "corpus_funnel" ->
      (cleanChainSql + s""",
        |s2 AS (SELECT q.doc_id FROM qual q JOIN kept USING (doc_id)),
        |s3 AS (SELECT s2.doc_id FROM s2 JOIN documents d USING (doc_id)
        |       WHERE d.source <> '$EvalSource'),
        |s4 AS (SELECT doc_id FROM s3
        |       WHERE doc_id NOT IN (SELECT doc_id FROM cont))
        |SELECT * FROM (
        |  SELECT '0_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
        |  UNION ALL SELECT '1_elected', CAST(COUNT(*) AS BIGINT) FROM kept
        |  UNION ALL SELECT '2_quality', CAST(COUNT(*) AS BIGINT) FROM s2
        |  UNION ALL SELECT '3_train', CAST(COUNT(*) AS BIGINT) FROM s3
        |  UNION ALL SELECT '4_final', CAST(COUNT(*) AS BIGINT) FROM s4
        |) ORDER BY stage""".stripMargin),
    // the same chain ending in the group-atomic split (mix chain hashed
    // on the representative), mirroring Pipelines.cleanAndSplit
    "corpus_clean_split" -> {
      val mix = Export.mixBucketSql("k.group_rep", 1000, 0L)
      cleanChainSql + s"""
        |SELECT q.doc_id, k.group_rep, q.n_tokens,
        |       CASE WHEN $mix < 800 THEN 'train'
        |            WHEN $mix < 900 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM qual q JOIN kept k USING (doc_id) JOIN documents d USING (doc_id)
        |WHERE d.source <> '$EvalSource'
        |  AND q.doc_id NOT IN (SELECT doc_id FROM cont)
        |ORDER BY q.doc_id""".stripMargin
    },
    // within-label pairs only (the blocking IS the contract), exact
    // unnest cosine on candidates, drop the larger id of any pair >= eps
    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |u AS (SELECT vec_id, i, embedding[i+1]::DOUBLE AS v
        |      FROM e, UNNEST(range(len(embedding))) AS r(i)),
        |n AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM u GROUP BY 1),
        |pr AS (SELECT a.vec_id AS v0, b.vec_id AS v1
        |       FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
        |d AS (SELECT pr.v0, pr.v1, SUM(ua.v * ub.v) AS dot
        |      FROM pr JOIN u ua ON ua.vec_id = pr.v0
        |              JOIN u ub ON ub.vec_id = pr.v1 AND ub.i = ua.i
        |      GROUP BY 1, 2),
        |c AS (SELECT v0, v1, ${r6sql("dot / (na.nrm * nb.nrm)")} AS cosine
        |      FROM d JOIN n na ON na.vec_id = v0 JOIN n nb ON nb.vec_id = v1),
        |drp AS (SELECT DISTINCT v1 AS vec_id FROM c WHERE cosine >= $SemEps)
        |SELECT e.vec_id, e.label AS grp,
        |       CAST(CASE WHEN drp.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM e LEFT JOIN drp USING (vec_id) ORDER BY vec_id""".stripMargin,
    // independent connected-components oracle: same chain edges (pure
    // doc_id arithmetic), components via a recursive CTE — min reachable
    // id per doc, no label propagation anywhere on this side
    "dedup_groups_converged" ->
      s"""WITH RECURSIVE
        |base AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |         WHERE (b.doc_id % $ChainBlock) <> 0),
        |ed AS (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT ed.src, reach.r FROM ed JOIN reach ON ed.dst = reach.doc_id)
        |SELECT doc_id, CAST(MIN(r) AS BIGINT) AS group_rep
        |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same edge arithmetic as the Spark fixture (block chains + 4-block
    // start links), components recomputed independently of any
    // contraction order by the recursive reachability closure
    "dedup_groups_stars" ->
      s"""WITH RECURSIVE
        |chain AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |          WHERE (b.doc_id % $ChainBlock) <> 0),
        |links AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + $ChainBlock
        |          WHERE (a.doc_id % $ChainBlock) = 0
        |            AND ((a.doc_id // $ChainBlock) % 4) <> 3),
        |base AS (SELECT * FROM chain UNION ALL SELECT * FROM links),
        |ed AS (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT ed.src, reach.r FROM ed JOIN reach ON ed.dst = reach.doc_id)
        |SELECT doc_id, CAST(MIN(r) AS BIGINT) AS group_rep
        |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // repeated-span stats: same whitespace tokenization, raw span strings
    // as the grouping key (the Spark side groups by sha256 of the span —
    // identical partition of the windows, checked value-for-value here)
    "dedup_spans" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
        |  FROM documents),
        |sp AS (SELECT doc_id, array_to_string(t[i:i+${SpanTokens - 1}], ' ') AS s
        |       FROM toks, UNNEST(range(1, len(t) - ${SpanTokens} + 2)) AS r(i)),
        |dup AS (SELECT s FROM sp GROUP BY s HAVING COUNT(DISTINCT doc_id) > 1),
        |per AS (SELECT sp.doc_id, COUNT(*) AS n_spans,
        |               CAST(SUM(CASE WHEN d.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans
        |        FROM sp LEFT JOIN dup d USING (s) GROUP BY 1)
        |SELECT doc.doc_id,
        |       COALESCE(per.n_spans, 0) AS n_spans,
        |       COALESCE(per.dup_spans, 0) AS dup_spans,
        |       ${r6sql("CASE WHEN COALESCE(per.n_spans, 0) > 0 THEN per.dup_spans / CAST(per.n_spans AS DOUBLE) ELSE 0.0 END")} AS dup_fraction
        |FROM documents doc LEFT JOIN per ON per.doc_id = doc.doc_id
        |ORDER BY doc.doc_id""".stripMargin,
    // scrub: recompute owners from raw span strings, drop covered token
    // positions via an anti-join, rebuild the text in position order
    "dedup_spans_scrub" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
        |  FROM documents),
        |sp AS (SELECT doc_id, i AS p, array_to_string(t[i:i+${SpanTokens - 1}], ' ') AS s
        |       FROM toks, UNNEST(range(1, len(t) - ${SpanTokens} + 2)) AS r(i)),
        |own AS (SELECT s, MIN(doc_id) AS owner FROM sp GROUP BY s
        |        HAVING COUNT(DISTINCT doc_id) > 1),
        |drops AS (SELECT sp.doc_id, sp.p FROM sp JOIN own USING (s)
        |          WHERE own.owner <> sp.doc_id),
        |tok AS (SELECT doc_id, j + 1 AS pos, t[j + 1] AS tk
        |        FROM toks, UNNEST(range(len(t))) AS r(j)),
        |keep AS (SELECT k.doc_id, k.pos, k.tk FROM tok k
        |         WHERE NOT EXISTS (SELECT 1 FROM drops d
        |                           WHERE d.doc_id = k.doc_id
        |                             AND k.pos >= d.p AND k.pos < d.p + ${SpanTokens})),
        |agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS text
        |        FROM keep GROUP BY doc_id)
        |SELECT doc.doc_id, COALESCE(agg.text, '') AS text
        |FROM documents doc LEFT JOIN agg ON agg.doc_id = doc.doc_id
        |ORDER BY doc.doc_id""".stripMargin
  )
}
