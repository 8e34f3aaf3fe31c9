package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.core.PairSurface
import graft.ext.Dedup

/**
 * Streaming deduplication for document ingest pipelines.
 *
 * Two shapes, matching what Structured Streaming can express:
 *
 *   - Exact dedup is STREAMING-NATIVE: `dropDuplicates` keyed on the text
 *     (or a content hash) is Spark's stateful dedup operator; the
 *     event-time watermark bounds the dedup state, which is the only way
 *     unbounded-stream dedup can run forever (state for documents older
 *     than the watermark is dropped — a document repeated after the
 *     horizon re-emits, the standard streaming trade-off).
 *
 *   - Near-dup (MinHash) needs per-document shingling with window
 *     functions, which streaming cannot run directly; the idiomatic
 *     pattern is `foreachBatch`: each micro-batch is a normal DataFrame,
 *     so the batch operators ([[graft.ext.Dedup.minHashSignatures]]) run
 *     unchanged and the signatures land in an LSH bucket index that an
 *     external join/compaction job (or the batch pipeline) consumes.
 */
object DedupStream {

  /**
   * Exact-duplicate removal on an unbounded document stream: first
   * occurrence of each text within the watermark horizon passes through.
   * `docs` must carry an event-time column named by `tsCol`.
   */
  def exactDedup(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(textCol)

  /**
   * Streaming decontamination guard: flag arriving documents that share
   * at least one word trigram with a STATIC eval-corpus shingle set
   * (column `sh`, e.g. `Dedup.shingles(evalDocs, ...)` materialized to
   * parquet) — the ingest-time form of [[graft.ext.Dedup.contamination]].
   *
   * Runs natively on the stream, no foreachBatch: shingling is row-local
   * ([[graft.ext.Dedup.shinglesLocal]] — array HOFs, no window), the
   * probe is a stream-static equi-join on the shingle hash (the static
   * side's distinct set broadcasts), and the per-document flag dedup is
   * `dropDuplicatesWithinWatermark` keyed by doc id, so flag state is
   * watermark-bounded. Emits one (doc_id, ts) row per contaminated
   * document; route it to a quarantine sink or anti-join it against the
   * ingest stream.
   */
  def contaminationFlag(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, evalShingles: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    Dedup.shinglesLocal(docs, idCol, textCol, keepCols = Seq(tsCol))
      .join(evalShingles.select(col("sh")).distinct(), "sh")
      .select(col("doc_id"), col(tsCol))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("doc_id")

  /**
   * Streaming EXACT-SUBSTRING decontamination guard — the ingest-time
   * form of [[graft.ext.Dedup.substringContamination]]: flag arriving
   * documents containing ANY `len`-character window
   * that occurs verbatim, at any alignment, in a STATIC eval-corpus
   * window table (`evalGrams` = [[graft.ext.Dedup.substringGrams]] over
   * the eval slice, materialized to parquet at eval-set build time —
   * (g1, g2) fixed-width 120-bit window-hash rows). This is the
   * deterministic guarantee the trigram/Bloom guards above cannot give:
   * a 50-char quote pasted mid-document is caught with certainty, with
   * no dependence on tokenization alignment.
   *
   * Stream-native, no foreachBatch: window hashing is ROW-LOCAL
   * ([[graft.ext.Dedup.substringGramsLocal]] — explode + hash, no
   * distinct, no aggregate), the probe is ONE stream-static equi-join
   * on the 16-byte hash pair (the static side's distinct set
   * broadcasts), and the per-document flag dedup is
   * `dropDuplicatesWithinWatermark` keyed by doc id — the only stateful
   * operator, watermark-bounded. Emits one (doc_id, ts) row per
   * contaminated document. Batch parity is spec-pinned: the flag set
   * equals `substringContamination(...)` rows with `hit_grams > 0`.
   */
  def substringContaminationFlag(docs: DataFrame, idCol: String,
      textCol: String, tsCol: String, evalGrams: DataFrame,
      len: Int = Dedup.SubstrLen, watermark: String = "1 hour"): DataFrame =
    Dedup.substringGramsLocal(docs, idCol, textCol, len, keepCols = Seq(tsCol))
      .join(evalGrams.select(col("g1"), col("g2")).distinct(), Seq("g1", "g2"))
      .select(col("doc_id"), col(tsCol))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("doc_id")

  /**
   * Streaming decontamination guard over a BLOOM bit-set — the
   * fixed-memory twin of [[contaminationFlag]]: when the eval corpus's
   * distinct shingle set outgrows a comfortable broadcast, the static
   * side compresses to [[graft.ext.Dedup.bloomBits]]'s ≤ 2^14-row
   * position table regardless of eval size. A document is flagged when
   * ANY of its shingles has all [[graft.ext.Dedup.BloomHashes]] positions
   * set — a superset of [[contaminationFlag]]'s exact flags (no false
   * negatives, the safe direction for a quarantine gate).
   *
   * Stream-native WITHOUT aggregation: the all-k-positions conjunction
   * is expressed as k chained stream-static LEFT SEMI equi-joins (each
   * probes one hash's position against the broadcast bit table) — no
   * per-shingle hit counting, so no stateful aggregate enters the plan;
   * the only state is the watermark-bounded per-doc flag dedup. Pass
   * `evalBits` prebuilt (materialize [[graft.ext.Dedup.bloomBits]] to
   * parquet at eval-set build time) so the stream never recomputes it.
   */
  def bloomContaminationFlag(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, evalBits: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    val flagged = (0 until Dedup.BloomHashes).foldLeft(
      Dedup.shinglesLocal(docs, idCol, textCol, keepCols = Seq(tsCol))) {
      (df, i) =>
        df.withColumn("pos", expr(s"CAST(${Dedup.bloomPosSql("sh", i)} AS BIGINT)"))
          .join(evalBits.select(col("pos")), Seq("pos"), "left_semi")
          .drop("pos")
    }
    flagged
      .select(col("doc_id"), col(tsCol))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /**
   * Composed streaming ingest-cleaning pipeline — the stream-expressible
   * face of [[graft.ext.Pipelines.cleanCorpus]], three gates in one
   * unbounded query:
   *
   *   1. exact dedup within the watermark ([[exactDedup]] —
   *      first-arrival wins, the ONE stateful operator in the plan);
   *   2. the quality gate as a row-local predicate (the SAME
   *      [[graft.ext.TextAnalysis.qualityPass]] bounds the batch
   *      pipeline and the distilled classifier share);
   *   3. Bloom decontamination as a ROW-LOCAL bitmask probe: the eval
   *      corpus's [[graft.ext.Dedup.bloomBits]] positions collapse to a
   *      [[graft.ext.Dedup.BloomBits]]-bit literal (a model-sized eager
   *      fit — the k-means-codebook pattern), and each document tests
   *      its own shingle array with O(1) bit reads — no join, no second
   *      stateful operator, and no false negatives (Bloom's safe
   *      direction: a contaminated doc can never slip through; the FP
   *      surplus is what [[graft.ext.Dedup.bloomContamination]]'s batch
   *      audit measures).
   *
   * Near-dup GROUP election is deliberately absent: connected components
   * need a global view no single-pass stream has — that stays the
   * batch/incremental path ([[nearDupDetect]] maintains the candidate
   * index online instead). Emits (doc_id, tsCol, n_tokens) of surviving
   * documents in append mode.
   */
  def cleanStream(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, evalBitPositions: Seq[Long],
      minTokens: Long = 10, maxTokens: Long = 100000,
      minAvgTokenLen: Double = 2.0, maxAvgTokenLen: Double = 12.0,
      maxStopwordRatio: Double = 0.6, minTtr: Double = 0.2,
      watermark: String = "1 hour"): DataFrame = {
    require(evalBitPositions.forall(p => p >= 0 && p < Dedup.BloomBits),
      s"bloom positions must sit in [0, ${Dedup.BloomBits})")
    val words = new Array[Long](Dedup.BloomBits / 64)
    evalBitPositions.foreach { p =>
      words((p / 64).toInt) |= 1L << (p % 64).toInt
    }
    // string-cast literals: the SQL parser cannot negate Long.MinValue
    val wordsSql = words
      .map(w => s"CAST('$w' AS BIGINT)").mkString("array(", ", ", ")")
    def bitSet(pos: String) =
      s"(shiftright(element_at($wordsSql, CAST(($pos) div 64 AS INT) + 1), " +
        s"CAST(($pos) % 64 AS INT)) & 1) = 1"
    val allHashesSet = (0 until Dedup.BloomHashes)
      .map(i => bitSet(Dedup.bloomPosSql("sh", i))).mkString(" AND ")
    graft.ext.TextAnalysis.stats(
        exactDedup(docs, textCol, tsCol, watermark),
        idCol, textCol, keepCols = Seq(tsCol, textCol))
      .where(graft.ext.TextAnalysis.qualityPass(minTokens, maxTokens,
        minAvgTokenLen, maxAvgTokenLen, maxStopwordRatio, minTtr))
      .withColumn("tvs", expr(Dedup.tokenValuesSql(textCol)))
      .where(expr(
        s"NOT exists(${Dedup.ngramArraySql("tvs", 3)}, sh -> $allHashesSet)"))
      .select(col("doc_id"), col(tsCol), col("n_tokens"))
  }

  /**
   * Per-micro-batch MinHash signature extraction: runs the batch
   * signature pipeline on every arriving batch and hands the result to
   * `sink` (write to the signature index, run LSH bucket joins, etc.).
   */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(Dedup.minHashSignatures(Dedup.shingles(batch, idCol, textCol)), batchId)
    }

  /**
   * End-to-end streaming near-duplicate detection: maintains a parquet LSH
   * index under `indexDir` and emits MinHash-verified near-dup pairs per
   * micro-batch.
   *
   * Index layout (plain parquet, one `batch_id=N` partition per batch):
   *   - `seen/`     (doc_id)              — every ingested doc id, the
   *     version roster (shingle-less docs included — a doc re-ingested
   *     with < 3 tokens writes no shingle rows, and without this table
   *     its superseded version would stay visible as "current" forever)
   *   - `shingles/` (doc_id, sh)          — shingle sets of indexed docs
   *   - `bands/`    (doc_id, band, bkey)  — LSH band keys of indexed docs
   *   - `dups/`     (doc0, doc1, jaccard) — verified pairs
   *
   * Per batch, candidate generation is an equi-join of the NEW docs' band
   * keys against (index ∪ new) band keys — the arriving slice never joins
   * all-pairs against history, and history is touched only through the
   * (band, bkey) index — then candidates are verified by exact shingle
   * Jaccard restricted to candidate pairs ([[graft.ext.Dedup.jaccardFor]]).
   *
   * Delivery: foreachBatch is at-least-once, but every index table is
   * written as ONE PARTITION PER BATCH with dynamic partition overwrite,
   * and reads exclude the current batch's own partition — so a replayed
   * batch (same `batchId`, per the checkpoint contract) overwrites its
   * previous attempt instead of appending next to it, and never sees its
   * own half-written rows as "history". Net effect: effectively-once for
   * the index AND for the jaccard math (duplicate shingle rows would
   * otherwise corrupt the intersection counts).
   *
   * Contract: `doc_id` identifies ONE document version, and the LATEST
   * ingested batch of an id is its current version. History reads filter
   * to that latest version (and exclude ids re-ingested by the CURRENT
   * batch), so verification never mixes a stale text's shingles with the
   * replacement's — re-ingesting a changed doc yields pairs computed
   * against current versions only (mixing versions corrupts the
   * Jaccard, which would make compaction load-bearing). Superseded rows
   * and the stale pairs derived from them remain ON DISK until
   * [[compactIndex]] reclaims them; read them through [[currentPairs]] /
   * [[currentShingles]], which apply the same latest-version rule.
   */
  def nearDupDetect(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, minJaccard: Double = 0.2): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      nearDupBatch(batch, idCol, textCol, indexDir, minJaccard, batchId)
    }

  /**
   * One micro-batch step of [[nearDupDetect]] — also directly callable for
   * backfill (feed the historical corpus through as one "batch").
   */
  def nearDupBatch(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, minJaccard: Double, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // a crashed compaction must never read as an empty index: finish or
    // roll back any interrupted directory swap before probing existence
    recoverIndex(spark, indexDir)
    // Hadoop FS probe, NOT java.io.File — the index may live on HDFS/S3
    // where a local-File isDirectory is always false (a remote indexDir
    // would silently behave as an empty index every batch).
    def readOr(path: String, like: DataFrame): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p))
        // explicit schema (no inference on possibly-empty dirs); exclude
        // THIS batch's own partition so a replay never sees its previous
        // attempt's rows as history (batch_id rides along for the
        // latest-version filter)
        spark.read.schema(like.schema.add("batch_id", "long")).parquet(path)
          .where(col("batch_id") =!= batchId)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        like.schema.add("batch_id", "long"))
    }
    // one partition per batch + dynamic overwrite = idempotent replay
    def writeBatchPartition(df: DataFrame, path: String): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(path)
    // three actions consume the batch tables (verify + two index appends):
    // cache for the batch's lifetime, released in the finally
    val newSh = Dedup.shingles(batch, idCol, textCol).persist()
    val newBands = Dedup.minHashBands(Dedup.minHashSignatures(newSh)).persist()
    val newIds = batch.select(col(idCol).as("doc_id")).distinct()
    // history at CURRENT versions only: per doc its latest prior batch's
    // rows, minus ids this batch re-ingests (their new version supersedes
    // — mixing both versions' shingles corrupts the Jaccard).
    // Versions come from the seen/ roster, which records even shingle-less
    // ingests. Costs one (doc_id, batch_id)-column aggregate over the
    // roster scan — no text is touched, so the batch stays delta-shaped.
    val latest = latestBatchesIn(spark, indexDir, excludeBatch = Some(batchId))
    def latestVersion(df: DataFrame): DataFrame =
      df.join(latest,
          col("doc_id") === col("vdoc") && col("batch_id") === col("vbatch"))
        .drop("vdoc", "vbatch", "batch_id")
        .join(newIds, Seq("doc_id"), "left_anti")
    try {
      val oldSh = latestVersion(readOr(s"$indexDir/shingles", newSh))
      val oldBands = latestVersion(readOr(s"$indexDir/bands", newBands))
      // new vs indexed: every colliding (new, old) pair, canonical id
      // order; a re-ingested id never pairs with itself
      val vsOld = newBands.as("a")
        .join(oldBands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(
          least(col("a.doc_id"), col("b.doc_id")).as("doc0"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc1"))
      // new vs new: the batch's own collisions. Every new-vs-indexed pair
      // holds one indexed id and every new-vs-new pair none, so the two
      // sets are disjoint and each is deduplicated on its own
      val vsNew = PairSurface.bandPairs(newBands, Seq("band", "bkey"), "doc_id")
      val cands = vsOld.distinct().union(vsNew)
      val dups = Dedup.jaccardFor(cands, oldSh.union(newSh))
        .where(col("jaccard") >= minJaccard)
      writeBatchPartition(dups, s"$indexDir/dups")
      // fold the batch into the index AFTER emitting its pairs; a replay
      // overwrites these partitions and re-derives the same candidates
      writeBatchPartition(newSh, s"$indexDir/shingles")
      writeBatchPartition(newBands, s"$indexDir/bands")
      // version roster LAST: every ingested id, shingle-less ones included
      writeBatchPartition(newIds, s"$indexDir/seen")
    } finally {
      newBands.unpersist()
      newSh.unpersist()
    }
  }

  /** An index table read by path with an empty-frame fallback (hadoop FS
    * probe, remote-safe) — the shared idiom behind every index reader. */
  private def readIndexOr(spark: org.apache.spark.sql.SparkSession,
      path: String, emptySchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) spark.read.parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], emptySchema)
  }

  private def longCols(names: String*): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(names.map(n =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType)))

  /**
   * (vdoc, vbatch): each indexed doc's latest ingested batch, from the
   * `seen/` roster — which records every ingested doc, INCLUDING ones
   * whose text was too short to shingle (a shingle-derived version map
   * would leave such a re-ingest's superseded version visible forever).
   * Older indexes without a roster fall back to the shingle table.
   * Public so a composed pipeline ([[graft.ext.Pipelines
   * .incrementalClean]]) can compute it ONCE, pin it, and pass it to
   * [[currentShingles]]/[[currentPairs]] instead of re-aggregating the
   * roster per consumer. Runs [[recoverIndex]] first.
   */
  def latestVersions(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    recoverIndex(spark, indexDir)
    latestBatchesIn(spark, indexDir, excludeBatch = None)
  }

  /** [[latestVersions]] minus the recovery pass, with an optional batch
    * exclusion (the current batch during [[nearDupBatch]] reads). */
  private def latestBatchesIn(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, excludeBatch: Option[Long]): DataFrame = {
    val seenP = new org.apache.hadoop.fs.Path(s"$indexDir/seen")
    val fs = seenP.getFileSystem(spark.sessionState.newHadoopConf())
    val roster =
      if (fs.exists(seenP)) spark.read.parquet(s"$indexDir/seen")
      else readIndexOr(spark, s"$indexDir/shingles",
        longCols("doc_id", "sh", "batch_id"))
    val scoped = excludeBatch.fold(roster)(b => roster.where(col("batch_id") =!= b))
    scoped.select(col("doc_id").as("vdoc"), col("batch_id").as("vbatch"))
      .groupBy("vdoc").agg(max("vbatch").as("vbatch"))
  }

  /**
   * The index's CURRENT shingle table: each indexed doc's latest ingested
   * version only (superseded re-ingest rows are invisible — they stay on
   * disk until [[compactIndex]] reclaims them; a doc whose latest version
   * is shingle-less contributes NO rows). (doc_id, sh) rows; empty frame
   * if nothing was ingested. Pass a pinned [[latestVersions]] frame when
   * composing several current-view reads — each omitted argument costs
   * one roster aggregate and one recovery probe.
   */
  def currentShingles(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, latest: Option[DataFrame] = None): DataFrame = {
    val lv = latest.getOrElse(latestVersions(spark, indexDir))
    readIndexOr(spark, s"$indexDir/shingles", longCols("doc_id", "sh", "batch_id"))
      .join(lv, col("doc_id") === col("vdoc") && col("batch_id") === col("vbatch"))
      .select("doc_id", "sh")
  }

  /**
   * The index's CURRENT verified near-dup pairs: stale pairs — those
   * computed before one of their endpoints was re-ingested — are dropped
   * by batch arithmetic (a pair is current iff its batch is at least both
   * endpoints' latest version batch; the batch that re-ingests an
   * endpoint re-derives its surviving pairs, so the fresh copy always
   * exists — and a shingle-less re-ingest emits no pairs, correctly
   * invalidating every pair of the dead version). Pairs whose endpoint
   * left the corpus entirely are the CALLER's filter (a semi-join against
   * the live id set — [[graft.ext.Dedup.dupGroups]]'s foreign-edge
   * contract). Pass a pinned [[latestVersions]] frame when composing.
   */
  def currentPairs(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, latest: Option[DataFrame] = None): DataFrame = {
    val lv = latest.getOrElse(latestVersions(spark, indexDir))
    readIndexOr(spark, s"$indexDir/dups",
      longCols("doc0", "doc1", "batch_id")
        .add("jaccard", org.apache.spark.sql.types.DoubleType))
      .join(lv.select(col("vdoc").as("doc0"), col("vbatch").as("v0")), "doc0")
      .join(lv.select(col("vdoc").as("doc1"), col("vbatch").as("v1")), "doc1")
      .where(col("batch_id") >= greatest(col("v0"), col("v1")))
      .select("doc0", "doc1", "jaccard")
  }

  /**
   * Periodic index compaction — the maintenance job closing
   * [[nearDupDetect]]'s re-ingest gap: plain parquet appends can only
   * MERGE a re-ingested doc_id's shingles with its old version's, so
   * after re-ingest the index holds a corrupted union set and `dups/`
   * still lists pairs derived from the stale text.
   *
   * The compaction keeps, per doc_id, ONLY the rows of its LATEST
   * batch (the newest ingested version), then REBUILDS `dups/` from the
   * compacted index: candidates from the (band, bkey) self-equi-join —
   * the same bounded-key shape as the per-batch path, never all-pairs —
   * verified by exact shingle Jaccard. Rebuilt pairs land in the
   * partition of the newer endpoint's batch, so the partition layout
   * stays what a checkpoint replay of that batch would overwrite.
   *
   * Crash safety: each table is fully written to a `<name>.compact`
   * sibling before any swap begins; the swap itself is rename
   * live→`<name>.old`, rename `.compact`→live, delete `.old` — every
   * intermediate state is recoverable ([[recoverIndex]] rolls an
   * interrupted swap forward when the fully-written `.compact` survives,
   * back to `.old` otherwise), and [[nearDupBatch]] runs that recovery
   * before reading, so no crash point leaves readers seeing a missing
   * live directory as an empty index. A fresh/nonexistent index is a
   * no-op. Run at a stream-quiescent point (between micro-batches or
   * with the query stopped) — the swap is not atomic versus a CONCURRENT
   * reader.
   */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      minJaccard: Double = 0.2): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def live(name: String) = s"$indexDir/$name"
    def tmp(name: String) = s"$indexDir/$name.compact"
    def old(name: String) = s"$indexDir/$name.old"
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    recoverIndex(spark, indexDir)
    // nothing ingested yet (or index dir absent): no-op instead of a
    // PATH_NOT_FOUND from the unconditional reads
    if (!fs.exists(path(live("shingles"))) || !fs.exists(path(live("bands"))))
      return
    // latest ingested batch per doc — from the seen/ roster (covers
    // shingle-less versions; falls back to the shingle table on older
    // indexes without one), the same rule every reader applies
    val sh = spark.read.parquet(live("shingles"))
    val bands = spark.read.parquet(live("bands"))
    val latest = latestBatchesIn(spark, indexDir, excludeBatch = None)
      .select(col("vdoc").as("doc_id"), col("vbatch").as("batch_id"))
    def keepLatest(df: DataFrame) = df.join(latest, Seq("doc_id", "batch_id"))
    val keptSh = keepLatest(sh).persist()
    val keptBands = keepLatest(bands).persist()
    try {
      // rebuild verified pairs from the compacted index only
      val cands = PairSurface.bandPairs(keptBands, Seq("band", "bkey"), "doc_id")
      val dups = Dedup.jaccardFor(cands, keptSh.select("doc_id", "sh"))
        .where(col("jaccard") >= minJaccard)
        .join(latest.select(col("doc_id").as("doc0"), col("batch_id").as("b0")), "doc0")
        .join(latest.select(col("doc_id").as("doc1"), col("batch_id").as("b1")), "doc1")
        .select(col("doc0"), col("doc1"), col("jaccard"),
          greatest(col("b0"), col("b1")).as("batch_id"))
      // materialize every replacement fully, then swap directories:
      // live→.old, .compact→live, delete .old — there is no point where
      // the live directory is simply GONE with nothing to recover from
      // (the old delete-then-rename swap had exactly that window, and
      // readOr would have treated it as an empty index)
      keptSh.write.mode("overwrite").partitionBy("batch_id").parquet(tmp("shingles"))
      keptBands.write.mode("overwrite").partitionBy("batch_id").parquet(tmp("bands"))
      dups.write.mode("overwrite").partitionBy("batch_id").parquet(tmp("dups"))
      // the roster compacts to one (doc, latest-batch) row per doc; an
      // older index without one simply skips the fourth swap
      val hasSeen = fs.exists(path(live("seen")))
      if (hasSeen)
        latest.write.mode("overwrite").partitionBy("batch_id").parquet(tmp("seen"))
      for (name <- Seq("shingles", "bands", "dups") ++
          (if (hasSeen) Seq("seen") else Nil)) {
        if (fs.exists(path(old(name)))) fs.delete(path(old(name)), true)
        if (fs.exists(path(live(name))))
          fs.rename(path(live(name)), path(old(name)))
        fs.rename(path(tmp(name)), path(live(name)))
        fs.delete(path(old(name)), true)
      }
    } finally {
      keptBands.unpersist()
      keptSh.unpersist()
    }
  }

  /**
   * Crash recovery for [[compactIndex]]'s directory swap — idempotent,
   * cheap (a few FS existence probes), run automatically by
   * [[nearDupBatch]] and [[compactIndex]]. Per table:
   *
   *   - live missing, `.compact` present → the crash hit between
   *     live→`.old` and `.compact`→live; the `.compact` table was fully
   *     written before any swap started, so ROLL FORWARD (also heals the
   *     mixed compacted/uncompacted cross-table state — the surviving
   *     `.compact` siblings are the same snapshot).
   *   - live missing, only `.old` present → roll back to `.old`.
   *   - live present, `.old` present → the crash hit before the final
   *     delete; drop the `.old` leftover.
   *   - live present, stale `.compact` → a crash before the swap began;
   *     the next compaction overwrites it, nothing to do.
   */
  def recoverIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    for (name <- Seq("shingles", "bands", "dups", "seen")) {
      val liveP = path(s"$indexDir/$name")
      val tmpP = path(s"$indexDir/$name.compact")
      val oldP = path(s"$indexDir/$name.old")
      if (!fs.exists(liveP)) {
        if (fs.exists(tmpP)) {
          fs.rename(tmpP, liveP)
          if (fs.exists(oldP)) fs.delete(oldP, true)
        } else if (fs.exists(oldP)) fs.rename(oldP, liveP)
      } else if (fs.exists(oldP)) fs.delete(oldP, true)
    }
  }
}
