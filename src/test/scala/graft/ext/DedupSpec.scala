package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  implicit lazy val s: SparkSession = spark
  import s.implicits._

  // 0 and 1 are exact dups; 2 is a near-dup of them (one word changed);
  // 3 is unrelated.
  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today"),
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the sleepy dog today"),
    (3L, "completely different words about spark query engines here now")
  ).toDF("doc_id", "text")

  test("exact groups byte-identical docs under the min id") {
    val m = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L))
  }

  test("shingles: n-2 word trigrams per doc, identical docs share all") {
    val sh = Dedup.shingles(docs, "doc_id", "text")
    assert(sh.where($"doc_id" === 3L).count() == 7) // 9 tokens → 7 trigrams
    val s0 = sh.where($"doc_id" === 0L).select("sh").collect().map(_.getLong(0)).toSet
    val s1 = sh.where($"doc_id" === 1L).select("sh").collect().map(_.getLong(0)).toSet
    assert(s0 == s1)
  }

  test("ngram jaccard: dups at 1.0, near-dups high, unrelated absent") {
    val j = Dedup.ngramJaccardDups(docs, "doc_id", "text", minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assertApprox(j((0L, 1L)), 1.0)
    assert(j.contains((0L, 2L)) && j((0L, 2L)) > 0.3)
    assert(!j.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("containment: subset dup scores 1.0 where jaccard misses it") {
    // doc 11 is quoted wholesale as the prefix of the 4x-longer doc 10:
    // every short-doc trigram appears in the long doc, so containment is
    // exactly 1.0 while jaccard = 3/18 < 0.2 never surfaces the pair
    val d = Seq(
      (10L, "alpha beta gamma delta epsilon one two three four five " +
        "six seven eight nine ten eleven twelve thirteen fourteen fifteen"),
      (11L, "alpha beta gamma delta epsilon"),
      (12L, "unrelated words entirely distinct tokens")
    ).toDF("doc_id", "text")
    val c = Dedup.containmentDups(d, "doc_id", "text", minContainment = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(c.keySet == Set((10L, 11L)))
    val (cv, n0, n1) = c((10L, 11L))
    assertApprox(cv, 1.0)
    assert(n0 == 18L && n1 == 3L)
    val j = Dedup.ngramJaccardDups(d, "doc_id", "text", minJaccard = 0.2).count()
    assert(j == 0L, "jaccard at the standard threshold must miss the subset dup")
  }

  test("minHashRecallAudit: snapped-decile buckets, full recall here") {
    // (0,1) identical -> j=1.0 -> bucket 9; (0,2),(1,2) share 5 of 11
    // trigrams -> j=5/11≈0.4545 -> bucket 4; identical docs share every
    // band and the near-dups collide too (pinned by the LSH test below)
    val r = Dedup.minHashRecallAudit(docs, "doc_id", "text")
      .collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r.keySet == Set(4L, 9L))
    assert(r(9L) == ((1L, 1L, 1.0)))
    assert(r(4L) == ((2L, 2L, 1.0)))
  }

  test("minhash LSH finds the same dups as exact jaccard here") {
    val lsh = Dedup.minHashDups(docs, "doc_id", "text", minJaccard = 0.2)
      .select("doc0", "doc1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardDups(docs, "doc_id", "text", minJaccard = 0.2)
      .select("doc0", "doc1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash: identical docs at hamming 0, near-dups close, unrelated far") {
    val h = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0L), h(2L)) < ham(h(0L), h(3L)))
    val pairs = Dedup.simHashDups24(docs, "doc_id", "text", maxHamming = 3)
      .select("doc0", "doc1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("simhash banding: same pairs as the direct sketch compare, equi-join plan") {
    // ground truth: direct all-pairs compare over the sketches
    val h = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- h.keys; b <- h.keys if a < b
      if java.lang.Long.bitCount(h(a) ^ h(b)) <= 3
    } yield (a, b)).toSet
    val banded = Dedup.simHashDups24(docs, "doc_id", "text", maxHamming = 3)
    val got = banded.select("doc0", "doc1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // the scale contract: candidates come from a chunk equi-join, never a
    // nested-loop/cartesian scan (the r3 scale-killer)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // wide bounds (≥ chunk count, where banding would be incomplete) fall
    // back to the direct sketch compare instead of narrowing the API
    val wide = Dedup.simHashDups24(docs, "doc_id", "text",
        maxHamming = Dedup.SimHashChunks)
      .select("doc0", "doc1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantWide = (for {
      a <- h.keys; b <- h.keys if a < b
      if java.lang.Long.bitCount(h(a) ^ h(b)) <= Dedup.SimHashChunks
    } yield (a, b)).toSet
    assert(wide == wantWide)
  }

  test("wide simhash: identical docs pair at hamming 0; banding complete vs brute force") {
    val h = Dedup.simHashWide(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(1L))
    assert((h(0L) >> Dedup.SimHashWideBits) == 0L) // sketch stays in 60 bits
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0L), h(2L)) < ham(h(0L), h(3L)))
    // with the cap inert (far above this corpus), banding must equal the
    // direct all-pairs compare — the pigeonhole completeness contract
    val want = (for {
      a <- h.keys; b <- h.keys if a < b
      if ham(h(a), h(b)) <= 3
    } yield (a, b)).toSet
    val banded = Dedup.simHashWideDups(docs, "doc_id", "text", maxBucket = 100L)
    val got = banded.select("doc0", "doc1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.contains((0L, 1L)))
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("simHashDups (the obvious name) routes WIDE by default — no caller inherits the 6-bit quadratic") {
    // VERDICT r9 ask #2: the narrow 24-bit banding measured ~quadratic
    // (22.8x wall for 10x docs); since r10 the default-named API must be
    // the scale-safe wide kernel, bit-for-bit.
    val viaDefault = Dedup.simHashDups(docs, "doc_id", "text")
      .select("doc0", "doc1", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaWide = Dedup.simHashWideDups(docs, "doc_id", "text",
        maxBucket = Dedup.SimHashDefaultMaxBucket)
      .select("doc0", "doc1", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaDefault == viaWide)
    // and the narrow quadratic stays reachable ONLY through the explicit
    // width-suffixed name (compile-time pin: the call below is the one
    // spelling that produces 24-bit pairs)
    assert(Dedup.simHashDups24(docs, "doc_id", "text").columns.toSeq ==
      Seq("doc0", "doc1", "hamming"))
  }

  test("wide simhash cap: a saturated bucket stops pairing (the hot-collision guard)") {
    // three byte-identical docs share EVERY chunk bucket: occupancy 3
    val tri = Seq(0L, 1L, 2L).map(i => (i, "same exact text repeated here always"))
      .toDF("doc_id", "text")
    val capped = Dedup.simHashWideDups(tri, "doc_id", "text", maxBucket = 2L)
      .count()
    assert(capped == 0L) // every shared bucket is over the cap
    val uncapped = Dedup.simHashWideDups(tri, "doc_id", "text", maxBucket = 3L)
      .count()
    assert(uncapped == 3L) // C(3,2) identical pairs at hamming 0
  }

  test("minHashDups leaves no cached RDDs behind (caller-owned caching)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minHashDups(docs, "doc_id", "text").count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"leaked cache entries: $added")
  }

  test("embedding near-dups: proportional vectors hit cosine 1") {
    val emb = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f)),
      (1L, Seq(2.0f, 4.0f, 6.0f)),   // same direction as 0
      (2L, Seq(-3.0f, 1.0f, 0.5f))   // unrelated
    ).toDF("vec_id", "embedding")
    val d = Dedup.embeddingDups(emb, "vec_id", "embedding", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(d.keySet == Set((0L, 1L)))
    assertApprox(d((0L, 1L)), 1.0, 1e-6)
  }

  test("embeddingDups routes through LSH buckets with an equi-join plan") {
    val emb = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f)),
      (1L, Seq(2.0f, 4.0f, 6.0f)),
      (2L, Seq(-3.0f, 1.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val d = Dedup.embeddingDups(emb, "vec_id", "embedding", minCosine = 0.9, dim = 3)
    val plan = d.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // LSH path and exhaustive path agree in the near-dup regime
    val viaLsh = d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaAll = Dedup.embeddingDups(emb, "vec_id", "embedding", minCosine = 0.9,
        exhaustive = true).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh == viaAll)
  }

  test("exactNormalized groups case/punctuation/whitespace variants") {
    val d = Seq(
      (0L, "Hello, World!"), (1L, "hello   world"), (2L, "HELLO WORLD."),
      (3L, "hello worlds")
    ).toDF("doc_id", "text")
    val m = Dedup.exactNormalized(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
    // byte-exact dedup sees them all as distinct
    val e = Dedup.exact(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("shingles is a pure map stage — no exchange, no window") {
    val plan = Dedup.shingles(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"), plan)
  }

  test("contamination counts eval-shared shingles per train doc") {
    val train = docs.where($"doc_id" =!= 1L) // 0, 2, 3
    val evalC = docs.where($"doc_id" === 1L) // byte-identical to doc 0
    val c = Dedup.contamination(train, evalC, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 0 IS the eval doc: all 8 trigrams (10 tokens) contaminated
    assert(c(0L) == ((8L, 8L, 1.0)))
    // doc 2 changed one word: only the 3 trigrams containing it are clean
    assert(c(2L) == ((8L, 5L, 0.625)))
    // doc 3 is unrelated: 7 trigrams (9 tokens), none contaminated
    assert(c(3L) == ((7L, 0L, 0.0)))
  }

  test("contamination plans equi-joins only — no nested-loop / cartesian") {
    val plan = Dedup.contamination(docs, docs.limit(1), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("fuzzyContamination flags cross-corpus near-dups, not unrelated docs") {
    val train = docs.where($"doc_id" =!= 1L) // 0 (identical), 2 (near), 3 (far)
    val evalC = docs.where($"doc_id" === 1L)
    val f = Dedup.fuzzyContamination(train, evalC, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assertApprox(f((0L, 1L)), 1.0)              // identical leak
    assert(f.contains((2L, 1L)) && f((2L, 1L)) > 0.3) // paraphrased leak
    assert(!f.keySet.exists(_._1 == 3L))        // unrelated train doc clean
  }

  test("dupGroups: components get their min id; rounds bound the reach") {
    val ids = (1L to 7L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc0", "doc1")
    val g = Dedup.dupGroups(ids, pairs, "doc_id", rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // fixed-rounds contract: a 6-hop chain is NOT fully collapsed in 2
    // rounds — doc 7 reaches only 2 hops back (to 5), as documented
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("doc0", "doc1")
    val g2 = Dedup.dupGroups(ids, chain, "doc_id", rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2(7L) == 5L && g2(3L) == 1L && g2(2L) == 1L)
  }

  test("dupGroupsSalted matches dupGroups row-for-row (mega-star + chain + singleton)") {
    val ids = (1L to 40L).map(Tuple1(_)).toDF("doc_id")
    // a 25-spoke mega-star on hub 1, a 4-chain 30–33, singletons elsewhere
    val pairs = ((2L to 26L).map(d => (1L, d)) ++ Seq((30L, 31L), (31L, 32L), (32L, 33L)))
      .toDF("doc0", "doc1")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 3).foreach { salts =>
      val salted = toMap(Dedup.dupGroupsSalted(ids, pairs, "doc_id",
        rounds = 3, salts = salts))
      val plain = toMap(Dedup.dupGroups(ids, pairs, "doc_id", rounds = 3))
      assert(salted == plain, s"salts=$salts")
    }
    val g = toMap(Dedup.dupGroupsSalted(ids, pairs, "doc_id", rounds = 3))
    assert((1L to 26L).forall(g(_) == 1L))
    assert((30L to 33L).forall(g(_) == 30L))
    assert(g(27L) == 27L && g(40L) == 40L)
  }

  test("dupGroupsConverged collapses a chain deeper than any fixed-round reach") {
    val ids = (1L to 12L).map(Tuple1(_)).toDF("doc_id")
    // a 10-hop duplicate chain 1–2–…–11 (diameter 10) plus singleton 12
    val chain = (1L to 10L).map(i => (i, i + 1)).toDF("doc0", "doc1")
    val g = Dedup.dupGroupsConverged(ids, chain, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 11L).forall(g(_) == 1L), g.toSeq.sorted.mkString(", "))
    assert(g(12L) == 12L)
    // the fixture is a real counterexample to fixed rounds: 4 plain
    // propagation rounds reach only 4 hops back, so the chain tail is
    // still mislabeled there — exactly the case the converged form fixes
    val g4 = Dedup.dupGroups(ids, chain, "doc_id", rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g4(11L) != 1L)
  }

  test("dupGroupsConverged matches the fixed-round form on near-cliques") {
    val ids = (1L to 7L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L)).toDF("doc0", "doc1")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val conv = toMap(Dedup.dupGroupsConverged(ids, pairs, "doc_id"))
    val fixed = toMap(Dedup.dupGroups(ids, pairs, "doc_id", rounds = 4))
    assert(conv == fixed)
    assert(conv == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("weightedJaccardDups: repetition lowers the score set Jaccard cannot see") {
    // A = (a a a b), B = (a b): identical token SETS (set J = 1.0), but
    // weighted J = (min(3,1)+min(1,1)) / (max(3,1)+max(1,1)) = 0.5
    val d = Seq((1L, "a a a b"), (2L, "a b"), (3L, "c d e")).toDF("doc_id", "text")
    val wj = Dedup.weightedJaccardDups(d, "doc_id", "text",
        minWj = 0.0, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assertApprox(wj((1L, 2L)), 0.5, 1e-9)
    assert(!wj.contains((1L, 3L)) && !wj.contains((2L, 3L))) // no shared token
  }

  test("weightedJaccardDups: df cap excludes hub tokens from sums and pairs") {
    // 'the' appears in all 4 docs; with maxDf = 3 it vanishes from the
    // vocabulary: docs 3 and 4 share ONLY 'the' -> no pair at all, and
    // the (1,2) score is computed over {a, b} alone
    val d = Seq((1L, "the a a b"), (2L, "the a b"),
      (3L, "the x"), (4L, "the y")).toDF("doc_id", "text")
    val wj = Dedup.weightedJaccardDups(d, "doc_id", "text",
        minWj = 0.0, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // A = (a:2, b:1), B = (a:1, b:1): (1+1)/(2+1) = 2/3
    assertApprox(wj((1L, 2L)), 2.0 / 3, 1e-9)
    assert(wj.keySet == Set((1L, 2L)), wj.keySet)
    // threshold filters below-cut pairs
    val cut = Dedup.weightedJaccardDups(d, "doc_id", "text",
      minWj = 0.7, maxDf = 3).count()
    assert(cut == 0L)
  }

  test("sortedNeighborhoodDups: prefix-sorted variants found, linear scan") {
    val d = Seq(
      (1L, "alpha document one shared prefix"),
      (2L, "alpha document one shared prefix!"), // normalize → identical to 1
      (3L, "zebra totally different text here"),
      (4L, "alpha document one shared prefix extra"), // 6 edits from 1
      (5L, "mid range content")
    ).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodDups(d, "doc_id", "text",
        window = 3, maxDist = 6, nShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 0L, got)
    assert(got((1L, 4L)) == 6L && got((2L, 4L)) == 6L, got)
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L }, got)
  }

  test("sortedNeighborhoodDups: far-sorted near-dups are missed (recall limit)") {
    // 10 and 14 differ by ONE leading character (dist 1) but sort to
    // opposite ends; with window=2 three m-docs sit between them, so the
    // scan never compares the pair — the documented SNM recall contract
    val d = Seq(
      (10L, "aaaa same tail text"),
      (11L, "m one filler"), (12L, "m two filler"), (13L, "m three filler"),
      (14L, "zaaa same tail text")
    ).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodDups(d, "doc_id", "text",
        window = 2, maxDist = 6, nShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.contains((10L, 14L)), got)
  }

  test("dupGroupsStars matches converged propagation on adversarial shapes") {
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deep chain (worst case for fixed rounds), near-clique, star,
    // two singletons — one corpus, all shapes at once
    val ids = (1L to 30L).map(Tuple1(_)).toDF("doc_id")
    val chain = (1L to 9L).map(i => (i, i + 1))
    val clique = Seq((11L, 12L), (12L, 13L), (11L, 13L), (13L, 14L))
    val star = (16L to 20L).map(i => (15L, i))
    val pairs = (chain ++ clique ++ star).toDF("doc0", "doc1")
    val stars = toMap(Dedup.dupGroupsStars(ids, pairs, "doc_id"))
    val conv = toMap(Dedup.dupGroupsConverged(ids, pairs, "doc_id"))
    assert(stars == conv, stars.toSeq.sorted.mkString(", "))
    assert((1L to 10L).forall(stars(_) == 1L))
    assert((21L to 30L).forall(i => stars(i) == i))
  }

  test("dupGroupsStars: deterministic pseudo-random graph parity") {
    // 60 nodes, ~90 arithmetic-derived edges: enough collisions to form
    // multi-path components the simple shapes above never exercise
    val n = 60L
    val ids = (0L until n).map(Tuple1(_)).toDF("doc_id")
    val pairs = (0L until 90L)
      .map(i => ((i * 7919L) % n, (i * i * 104729L + i) % n))
      .filter { case (a, b) => a != b }
      .toDF("doc0", "doc1")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toMap(Dedup.dupGroupsStars(ids, pairs, "doc_id")) ==
      toMap(Dedup.dupGroupsConverged(ids, pairs, "doc_id")))
  }

  test("dupGroupsStars ignores foreign edges and handles empty pairs") {
    val ids = (1L to 5L).map(Tuple1(_)).toDF("doc_id")
    // 99 is outside the corpus: must not bridge 1 and 2
    val pairs = Seq((1L, 99L), (99L, 2L), (3L, 4L)).toDF("doc0", "doc1")
    val g = Dedup.dupGroupsStars(ids, pairs, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 5L), g)
    val empty = Seq.empty[(Long, Long)].toDF("doc0", "doc1")
    val g0 = Dedup.dupGroupsStars(ids, empty, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g0 == (1L to 5L).map(i => i -> i).toMap)
  }

  test("dupGroupsConverged uses a reliable checkpoint dir when configured") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val ids = (1L to 8L).map(Tuple1(_)).toDF("doc_id")
      val chain = (1L to 6L).map(i => (i, i + 1)).toDF("doc0", "doc1")
      val g = Dedup.dupGroupsConverged(ids, chain, "doc_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 7L).forall(g(_) == 1L) && g(8L) == 8L)
      // the reliable path was actually taken: checkpoint files exist
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty)
    } finally
      // localCheckpoint fallback for every other suite: the shared
      // session must not keep writing checkpoints after this test
      spark.sparkContext.setCheckpointDir(null)
  }

  test("grouping ignores edges referencing docs absent from the corpus") {
    // the r5 verdict's latent-risk scenario: a caller passes pairs whose
    // endpoints aren't in `docs` (stale pair index, filtered corpus) —
    // foreign edges must be ignored, never corrupt or drop label rows
    val ids = (1L to 4L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (3L, 99L), (98L, 97L), (99L, 4L))
      .toDF("doc0", "doc1")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fixed = toMap(Dedup.dupGroups(ids, pairs, "doc_id", rounds = 4))
    val conv = toMap(Dedup.dupGroupsConverged(ids, pairs, "doc_id"))
    assert(fixed == expect, fixed.toString) // exactly 4 rows, all present
    assert(conv == expect, conv.toString)
  }

  test("spanStats counts cross-doc repeated n-token windows only") {
    val fixture = Seq(
      (0L, "a b c d e"),        // windows: "a b c" "b c d" "c d e"
      (1L, "x y a b c"),        // windows: "x y a" "y a b" "a b c"
      (2L, "p q r"),            // one window, unshared
      (3L, "z z"),              // shorter than n → zero windows
      (4L, "m n o m n o m n")   // "m n o" repeats WITHIN one doc only
    ).toDF("doc_id", "text")
    val got = Dedup.spanStats(fixture, "doc_id", "text", n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(0L) == ((3L, 1L, 1.0 / 3)))  // shares "a b c" with doc 1
    assert(got(1L) == ((3L, 1L, 1.0 / 3)))
    assert(got(2L) == ((1L, 0L, 0.0)))
    assert(got(3L) == ((0L, 0L, 0.0)))      // short doc present with zeros
    assert(got(4L) == ((6L, 0L, 0.0)))      // intra-doc repeats don't count
    assert(got.size == 5)
  }

  test("spanScrub keeps the owner's copy, drops covered tokens elsewhere") {
    val fixture = Seq(
      (0L, "a b c d e"),          // owns "a b c" "b c d" "c d e"
      (1L, "x y a b c"),          // owns "x y a" "y a b"; loses "a b c"
      (2L, "p q r"),              // unshared
      (3L, "z z"),                // shorter than n
      (4L, "m n o m n o m n"),    // intra-doc repeats only
      (5L, "x y a b c d e")       // every window owned elsewhere
    ).toDF("doc_id", "text")
    val got = Dedup.spanScrub(fixture, "doc_id", "text", n = 3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "a b c d e")
    assert(got(1L) == "x y")
    assert(got(2L) == "p q r")
    assert(got(3L) == "z z")
    assert(got(4L) == "m n o m n o m n")
    assert(got(5L) == "")   // fully covered by spans owned by docs 0 and 1
    assert(got.size == 6)
  }

  test("keepBest elects the highest-score member per group, tie -> min id") {
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "group_rep")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 2L), (5L, 7L), (6L, 7L))
      .toDF("doc_id", "sc")
    val r = Dedup.keepBest(groups, scores, "doc_id", "sc").collect()
      .map(x => x.getLong(0) -> ((x.getLong(3), x.getLong(4)))).toMap
    assert(r(1L) == ((2L, 0L)))  // group 1: score 9 ties docs 2,3 → doc 2
    assert(r(2L) == ((2L, 1L)))
    assert(r(3L) == ((2L, 0L)))
    assert(r(4L) == ((4L, 1L)))  // singleton keeps itself
    assert(r(5L) == ((5L, 1L)))  // group 5 tie → min id 5
    assert(r(6L) == ((5L, 0L)))
    assert(r.size == 6)
  }

  test("groupSizeHistogram: sizes count groups and docs; total is corpus size") {
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "group_rep")
    val h = Dedup.groupSizeHistogram(groups).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(h == Map(1L -> ((1L, 1L)), 2L -> ((1L, 2L)), 3L -> ((1L, 3L))))
    assert(h.values.map(_._2).sum == 6L) // completeness: every doc counted
  }

  test("winnow: coverage guarantee, shared-run overlap, short docs absent") {
    val run = "alpha beta gamma delta epsilon zeta eta theta" // 8 shared tokens
    val fixture = Seq(
      (0L, s"aa bb cc dd ee ff gg hh ii jj kk ll"),  // 12 tokens → 10 trigrams
      (1L, s"prefix1 prefix2 $run suffix1"),
      (2L, s"other1 other2 other3 $run"),
      (3L, "one two")                                // < 3 tokens → no trigrams
    ).toDF("doc_id", "text")
    val rows = Dedup.winnow(fixture, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = rows.groupBy(_._1)
    assert(!byDoc.contains(3L))
    // winnowing guarantee on doc 0: every window of 4 consecutive trigram
    // positions (1..10) contains at least one selected position
    val pos0 = byDoc(0L).map(_._2).toSet
    for (i <- 1L to 7L)
      assert((i until i + 4).exists(pos0), s"window at $i uncovered: $pos0")
    // docs 1 and 2 share an 8-token run (> window+2): at least one shared
    // fingerprint HASH must be selected in both
    val fp1 = byDoc(1L).map(_._3).toSet
    val fp2 = byDoc(2L).map(_._3).toSet
    assert(fp1.intersect(fp2).nonEmpty, s"no shared fingerprint: $fp1 vs $fp2")
  }

  test("cleanCorpus: dedup keeps best, quality and contamination drop") {
    // cluster {0,1}: near-dups, 1 is longer -> elected; 2: clean
    // singleton; 3: too short for the quality gate; 4: the eval slice;
    // 5: shares the trigram "secret eval question" with the eval doc
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "train"),
      (1L, "alpha beta gamma delta epsilon zeta eta", "train"),
      (2L, "one two three four five six seven", "train"),
      (3L, "tiny doc", "train"),
      (4L, "secret eval question answer here now", "eval"),
      (5L, "prefix words then secret eval question trailing tokens", "train")
    ).toDF("doc_id", "text", "source")
    val r = Pipelines.cleanCorpus(d, "doc_id", "text", "source", "eval",
        minTokens = 3, maxStopwordRatio = 1.0, minTtr = 0.0)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r.keySet == Set(1L, 2L),
      s"kept ${r.keySet}: longer near-dup elected, clean singleton kept; " +
        "short/contaminated/eval docs dropped")
    assert(r(1L) == ((0L, 7L)), "cluster rep is min id 0; 7 tokens")
    assert(r(2L) == ((2L, 7L)))
  }

  test("cleanFunnel: cumulative per-gate counts, final equals cleanCorpus") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "train"),
      (1L, "alpha beta gamma delta epsilon zeta eta", "train"),
      (2L, "one two three four five six seven", "train"),
      (3L, "tiny doc", "train"),
      (4L, "secret eval question answer here now", "eval"),
      (5L, "prefix words then secret eval question trailing tokens", "train")
    ).toDF("doc_id", "text", "source")
    val f = Pipelines.cleanFunnel(d, "doc_id", "text", "source", "eval",
        minTokens = 3, maxStopwordRatio = 1.0, minTtr = 0.0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 6 raw; election drops the losing near-dup (0); quality drops the
    // 2-token doc (3); the eval slice drops 4; decontamination drops 5
    assert(f === Map("0_raw" -> 6L, "1_elected" -> 5L, "2_quality" -> 4L,
      "3_train" -> 3L, "4_final" -> 2L))
    // the funnel's final gate IS cleanCorpus's survivor set
    val kept = Pipelines.cleanCorpus(d, "doc_id", "text", "source", "eval",
      minTokens = 3, maxStopwordRatio = 1.0, minTtr = 0.0).count()
    assert(f("4_final") === kept)
  }

  test("sourceLeakageMatrix: unordered source pairs, counts and mean jaccard") {
    val pairs = Seq(
      (1L, 2L, 1.0),   // A-B
      (3L, 4L, 0.5),   // B-A (opposite endpoint order → same cell)
      (5L, 6L, 0.8))   // A-A (within-source)
      .toDF("doc0", "doc1", "jaccard")
    val srcs = Seq((1L, "A"), (2L, "B"), (3L, "B"), (4L, "A"),
      (5L, "A"), (6L, "A")).toDF("doc_id", "source")
    val got = Dedup.sourceLeakageMatrix(pairs, srcs, "doc_id", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got(("A", "B")) == ((2L, 0.75)))  // both orientations merged
    assert(got(("A", "A")) == ((1L, 0.8)))
    assert(got.size == 2)
  }

  test("minHashEstimateAudit: identical docs estimate 1.0 exactly, error 0") {
    val got = Dedup.minHashEstimateAudit(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // docs 0 and 1 are byte-identical → every minhash agrees
    val (n, est, jac, err) = got((0L, 1L))
    assert(n == 16L && est == 1.0 && jac == 1.0 && err == 0.0)
    // the near-dup pair (0,2): estimate within the 16-hash std-err band
    // of the exact jaccard (deterministic fixture → fixed values; the
    // bound just documents WHY they're close)
    got.get((0L, 2L)).foreach { case (_, e2, j2, er2) =>
      // abs_err snaps the RAW difference; comparing against the already-
      // snapped est/jac columns carries up to 2 grid steps of slack
      assert(er2 <= 0.35 && math.abs(math.abs(e2 - j2) - er2) <= 2e-6)
    }
  }

  test("shinglesK(3) is byte-identical to the trigram path") {
    val a = Dedup.shingles(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.shinglesK(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("ngramHashSql of three values parses to shingleHash's expression tree") {
    assert(parseExpression(Dedup.ngramHashSql(Seq("a", "b", "c"))) ==
      parseExpression(TextHash.shingleHash("a", "b", "c")))
  }

  test("the n-gram kernel at n = 3 parses to the distinct-trigram spelling") {
    def at(off: Int) = s"element_at(tvs, i + $off)"
    val trigramSet = "CASE WHEN size(tvs) < 3 THEN CAST(array() AS ARRAY<BIGINT>) ELSE " +
      "array_distinct(transform(sequence(1, size(tvs) - 2), " +
      s"i -> ${TextHash.shingleHash(at(0), at(1), at(2))})) END"
    assert(parseExpression(Dedup.ngramArraySql("tvs", 3)) == parseExpression(trigramSet))
  }

  test("13-gram probe flags a 13-token verbatim run, not a 12-token one") {
    def toks(s: String, n: Int) = (0 until n).map(i => s + ('a' + i).toChar)
    val run = (0 until 13).map(i => s"r${('a' + i).toChar}run") // 13 shared
    val evalDoc = (100L, (toks("ev", 5) ++ run ++ toks("ew", 5)).mkString(" "))
    val hit = (1L, (toks("ta", 4) ++ run ++ toks("tb", 4)).mkString(" "))
    val near = (2L, (toks("tc", 4) ++ run.take(12) ++ toks("td", 5)).mkString(" "))
    val train = Seq(hit, near).toDF("doc_id", "text")
    val ev = Seq(evalDoc).toDF("doc_id", "text")
    val got = Dedup.contamination(train, ev, "doc_id", "text", n = 13)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) == 1L, s"13-token run must hit exactly once: $got")
    assert(got(2L) == 0L, s"12-token run must NOT hit a 13-gram probe: $got")
    // and the trigram probe sees BOTH (topical-overlap semantics)
    val tri = Dedup.contamination(train, ev, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tri(1L) > 0L && tri(2L) > 0L)
  }

  test("minHashBbitAudit: exact duplicates estimate 1, debias clamps at 0") {
    val d = Seq(
      (0L, "a b c d e f"), (1L, "a b c d e f"), (2L, "a b c d e x"))
      .toDF("doc_id", "text")
    val rows = Dedup.minHashBbitAudit(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getAs[Double]("j_est_1bit"),
          r.getAs[Double]("j_est_full"), r.getAs[Double]("jaccard"),
          r.getAs[Double]("abs_err_1bit"))))
      .toMap
    // identical docs: every bit agrees → debiased estimate exactly 1
    val dup = rows((0L, 1L))
    assert(dup._1 == 16L && dup._2 == 1.0 && dup._3 == 1.0 && dup._4 == 1.0)
    assert(dup._5 == 0.0)
    // the clamp keeps every estimate in [0, 1] even when bit noise
    // pushes the raw 2f−1 negative
    rows.values.foreach { v =>
      assert(v._2 >= 0.0 && v._2 <= 1.0, v.toString)
    }
  }

  test("shingleNovelty: first-owner attribution by min doc_id, short docs absent") {
    // doc0 {abc,bcd} all first; doc1 {abc,bcx} shares abc; doc2 too short
    val d = Seq((0L, "a b c d"), (1L, "a b c x"), (2L, "a b"))
      .toDF("doc_id", "text")
    val got = Dedup.shingleNovelty(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L) == ((2L, 2L, 1.0)))
    assert(got(1L) == ((2L, 1L, 0.5)))
  }

  test("jaccardThresholdSweep: known pair counts per cut, zero rows kept") {
    // trigram sets: doc0 {abc,bcd}, doc1 {abc,bcx} → jaccard 1/3;
    // doc2 fully disjoint — so the only pair is (0,1) at 1/3
    val d = Seq(
      (0L, "a b c d"), (1L, "a b c x"), (2L, "p q r s"))
      .toDF("doc_id", "text")
    val got = Dedup.jaccardThresholdSweep(d, "doc_id", "text",
        thresholds = Seq(0.2, 0.5)).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0.2) == ((1L, 2L)))
    // above the pair's jaccard: the threshold keeps its zero row
    assert(got(0.5) == ((0L, 0L)))
  }

  test("autoRoute: the kernel choice flips across planted regimes (r12 router)") {
    // benign: a handful of mostly-disjoint docs — uncapped fits the
    // corpus-linear budget. headed: every doc shares one boilerplate
    // tail (df = n > cap) on otherwise-disjoint text — over budget
    // uncapped, under it capped, most postings retained. template:
    // every doc IS one of 2 templates — df-capping would excise ~all
    // postings (dense mutual duplication).
    val benign = (0 until 6).map(i =>
      (i.toLong, "benign", s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
    val bp = " all rights reserved terms apply"
    val headed = (0 until 40).map(i =>
      (100L + i, "headed", s"hx$i hy$i hz$i hw$i hv$i hu$i ht$i hs$i$bp"))
    val template = (0 until 40).map(i =>
      (200L + i, "template",
        s"the very same template sentence repeated verbatim everywhere ${i % 2}"))
    val d = (benign ++ headed ++ template).toDF("doc_id", "regime", "text")
    val got = Dedup.autoRoute(d, "doc_id", "text", "regime",
        maxDf = 4L, budgetPairsPerDoc = 8L)
      .collect().map(r => r.getString(0) -> r.getString(8)).toMap
    assert(got == Map("benign" -> "exact", "headed" -> "prefix_dfcap",
      "template" -> "minhash_banded"), got.toString)
  }

  test("autoDedupPairs dispatches to the chosen kernel's exact output") {
    // this corpus routes to `exact` (tiny surface): the routed result
    // must equal the direct exhaustive kernel at the same threshold
    val direct = Dedup.ngramJaccardDups(docs, "doc_id", "text", minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val routed = Dedup.autoDedupPairs(docs, "doc_id", "text", minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(routed.toSeq == direct.toSeq)
    assert(routed.nonEmpty)
  }

  test("autoDedupPairs shingles the corpus exactly once (r13, ADVICE r12)") {
    // ADVICE r12: the combined path used to tokenize/shingle twice —
    // autoRoute built its own shingle table and the kernel a second.
    // Pin the unified derivation with a per-row evaluation counter on
    // the text column: the checkpointed shingle table is the ONLY
    // consumer of the source text, so each doc's text is read once.
    // (asNondeterministic stops Catalyst duplicating the counter into
    // several projection sites within one pass.)
    val acc = spark.sparkContext.longAccumulator("text-evals")
    val counted = org.apache.spark.sql.functions
      .udf((t: String) => { acc.add(1); t }).asNondeterministic()
    val d = docs.withColumn("text",
      counted(org.apache.spark.sql.functions.col("text")))
    Dedup.autoDedupPairs(d, "doc_id", "text", minJaccard = 0.2).collect()
    val n = docs.count()
    assert(acc.value == n,
      s"text evaluated ${acc.value} times for $n docs — shingle chain ran more than once")
  }
}
