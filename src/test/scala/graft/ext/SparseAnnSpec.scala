package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.core.{CosineAnalysis, MatrixElement}

class SparseAnnSpec extends SparkSpec {
  implicit lazy val s: SparkSession = spark
  import s.implicits._

  private def analysis = new CosineAnalysis(spark, axis = "y")

  // 20 vectors over 6 coordinates, varied support
  private lazy val matrix = {
    val sess = spark
    import sess.implicits._
    (for { v <- 0 until 20; c <- 0 until 6 if (v + c) % 4 != 0 }
      yield MatrixElement(f"v$v%02d", s"c$c", ((v * c) % 7 + 1).toDouble)).toDS()
  }

  test("predictMissingIvf fills only missing cells, equi-join plan") {
    val p = SparseAnn.predictMissingIvf(analysis, matrix, neighbors = 3, lists = 4)
    val plan = p.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    val preds = p.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
    assert(preds.nonEmpty)
    val existing = matrix.collect().map(m => (m.y, m.x)).toSet
    assert(preds.forall { case (k, _) => !existing.contains(k) })
    // weights are positive-similarity weighted means of normalized values
    // in [0, 1], so predictions stay in (0, 1]
    assert(preds.forall { case (_, v) => v > 0.0 && v <= 1.0 + 1e-9 })
  }

  test("deriveLists: doubles per vector doubling past the 256 floor, occupancy <= 32") {
    import SparseAnn.{deriveLists, IvfLists, ListOccupancy, MaxListDoublings}
    // up to lists*occupancy vectors stay at the 8-list floor
    assert(deriveLists(1L) === IvfLists)
    assert(deriveLists(256L) === IvfLists)
    // first doubling past the floor
    assert(deriveLists(257L) === 16)
    // the sf0.1 / sfx1 bands: ~1k vectors -> 32 lists, ~10k -> 512
    assert(deriveLists(1000L) === 32)
    assert(deriveLists(10000L) === 512)
    // derived occupancy stays at or under the target through the ladder
    (1 to MaxListDoublings).foreach { t =>
      val n = (IvfLists.toLong * ListOccupancy) << (t - 1)
      assert(deriveLists(n).toLong * ListOccupancy >= n)
    }
    // clamp at the 4096-list ladder top regardless of corpus size: the
    // r11 model-broadcast assignment made the old V×L-row constraint
    // moot, so the cap is now the codebook-collect/closure size (L×dim
    // doubles ≈ 1 MB at the top); past the cap the occupancy SUB-SPLIT
    // carries the bound
    assert(MaxListDoublings === 9)
    assert(deriveLists(100000L) === 4096)
    assert(deriveLists(Long.MaxValue / 8) === (IvfLists << MaxListDoublings))
    // monotone non-decreasing
    val samples = Seq(1L, 10L, 300L, 1000L, 10000L, 100000L, 10000000L)
    assert(samples.map(deriveLists) === samples.map(deriveLists).sorted)
  }

  test("listOccupancyIvf: counts cover the corpus; n_sub enforces the cap") {
    // under the default cap every list is inert (n_sub = 1)
    val audit = SparseAnn.listOccupancyIvf(analysis, matrix, lists = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(audit.map(_._2).sum === 20L)
    assert(audit.forall(_._3 == 1L))
    // a tiny forced cap sub-splits exactly at ceil(occ/maxOcc)
    val capped = SparseAnn.listOccupancyIvf(analysis, matrix, lists = 4, maxOcc = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    capped.foreach { case (occ, nSub) => assert(nSub === (occ - 1) / 2 + 1) }
    // and the capped candidate rule still reports exact cosines (the cap
    // changes the candidate SET, never the value)
    val ann = SparseAnn.topSimilarIvf(analysis, matrix, k = 3, lists = 4, maxOcc = 2)
      .collect()
    val exact = analysis.fit(matrix, isSparse = false).allSimilarityValue
      .collect().flatMap { sv =>
        val snapped = math.floor(sv.similarity_value * 1e6 + 0.50001) / 1e6
        Seq((sv.vector0, sv.vector1) -> snapped, (sv.vector1, sv.vector0) -> snapped)
      }.toMap
    ann.foreach { r =>
      assertApprox(r.getDouble(3), exact((r.getString(0), r.getString(2))), 1e-9)
    }
  }

  test("topSimilarIvf: exact cosine values, equi-join plan, full-probe = exact top-k") {
    val ivf = SparseAnn.topSimilarIvf(analysis, matrix, k = 3, lists = 4)
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    val rows = ivf.collect()
    assert(rows.nonEmpty)
    // every reported similarity equals the exact snapped dense cosine
    val exactSims = analysis.fit(matrix, isSparse = false).allSimilarityValue
      .collect().flatMap { sv =>
        val snapped = math.floor(sv.similarity_value * 1e6 + 0.50001) / 1e6
        Seq((sv.vector0, sv.vector1) -> snapped, (sv.vector1, sv.vector0) -> snapped)
      }.toMap
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(2))
      assert(math.abs(r.getDouble(3) - exactSims(key)) < 1e-9,
        s"$key: ${r.getDouble(3)} vs ${exactSims(key)}")
    }
    // probing EVERY list makes the candidate set exhaustive: the route
    // must then reproduce the exact dense top-k bit for bit
    val full = SparseAnn.topSimilarIvf(analysis, matrix, k = 3, lists = 4,
        nprobe = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val exact = analysis.fit(matrix, isSparse = false).topSimilar(3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(full.toSeq === exact.toSeq)
  }

  test("group-local IVF scoring equals the pair-join reference row for row") {
    // the r10 physical rewrite (exactSimsLocal: arrays ship once per
    // probed list, pairs materialize inside the occupancy-bounded group)
    // must leave the logical result — candidate set AND snapped values —
    // bit-identical to the original pair-keyed coordinate join, at sane
    // AND at stressed occupancy (maxOcc=2 forces sub-splits everywhere)
    for (occ <- Seq(32, 2)) {
      val local = SparseAnn.candidateSimsIvf(analysis, matrix,
          lists = 4, maxOcc = occ)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      val ref = SparseAnn.candidateSimsIvfReference(analysis, matrix,
          lists = 4, maxOcc = occ)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      assert(local.toSeq === ref.toSeq, s"maxOcc=$occ")
      assert(local.nonEmpty)
    }
  }

  test("prober chunking (cap=2) leaves the result identical — replication is physical only") {
    // stress the mega-prober guard on a hand-built membership: one small
    // assigned list probed by MANY vectors. cap=2 splits the probers
    // into many chunks with the assigned set replicated into each; the
    // scored pairs must be byte-identical to the unchunked run.
    val sess = spark
    import sess.implicits._
    val nt = (for { v <- 0 until 20; c <- 0 until 6 if (v + c) % 4 != 0 }
      yield (f"v$v%02d", s"c$c", ((v * c) % 7 + 2).toDouble))
      .toDF("vector", "coord", "nv")
    // vectors v00/v01 assigned to (cid 0, sub 0); everyone probes it
    val memb = ((0 until 20).map(v => (f"v$v%02d", 0L, 0L, v < 2))).toSeq
      .toDF("vector", "cid", "sub", "is_assigned")
    val table = SparseAnn.vectorTable(nt)
    def run(cap: Int) = SparseAnn.exactSimsLocal(memb, table, cap)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val wide = run(SparseAnn.PairGroupCap)
    val tiny = run(2)
    assert(wide.toSeq == tiny.toSeq)
    // every non-assigned prober pairs with both assigned vectors
    assert(wide.count(t => t._2 == "v00" || t._2 == "v01") >= 18 * 2)
  }

  test("sub-split spreads SEQUENTIAL integer ids (the r11 probe-hash regression pin)") {
    // the r10 sub-split keyed on tokenValue (probes only length/first/
    // middle/last chars), which collapses sequential integer-string ids
    // into collision classes and concentrated ~30x hot groups one scale
    // decade up (measured max assigned 977 against the 32 cap). The
    // full-string charFold must keep every split near-uniform on
    // exactly that id population: max bucket <= 3x the mean at several
    // (n, k) shapes. A regression back to probe-based id hashing fails
    // this immediately (measured: tokenValue at n=10000, k=100 puts
    // >300 ids in one bucket).
    val sess = spark
    import sess.implicits._
    for ((n, k) <- Seq((2000, 20), (10000, 100), (10000, 7))) {
      val ids = (0 until n).map(_.toString).toDF("vector")
      val h = TextHash.avalancheSql(TextHash.charFold("vector"), 90121L)
      val maxBucket = ids.selectExpr(s"($h) % $k AS b")
        .groupBy("b").count().agg(org.apache.spark.sql.functions.max("count"))
        .collect()(0).getLong(0)
      val mean = n.toDouble / k
      assert(maxBucket <= 3 * mean, s"n=$n k=$k max=$maxBucket mean=$mean")
    }
  }

  test("feature-hash dim buckets are near-uniform on sequential integer coords (r12 pin)") {
    // the LAST tokenValue-on-ids path (VERDICT r11 What's-wrong #3):
    // ivfDimSql buckets COORDINATE ids into the `dim` feature
    // dimensions, and the contract matrices' coordinates are sequential
    // integer part keys. Probe-based tokenValue lands those measurably
    // unevenly (max/mean 1.39 at dim=32, 1.89 at dim=128 over 100k
    // sequential ids — a recall-distorting geometry skew, though the
    // occupancy sub-split bounds the pair surface regardless); the
    // full-string charFold spelling must keep every dim bucket within
    // 1.25x the mean on exactly that population. A regression back to
    // probe hashing fails both shapes immediately.
    val sess = spark
    import sess.implicits._
    for (dim <- Seq(SparseAnn.IvfDim, 128)) {
      val ids = (1 to 100000).map(_.toString).toDF("coord")
      val maxBucket = ids.selectExpr(s"${SparseAnn.ivfDimSql("coord", dim)} AS b")
        .groupBy("b").count().agg(org.apache.spark.sql.functions.max("count"))
        .collect()(0).getLong(0)
      val mean = 100000.0 / dim
      assert(maxBucket <= 1.25 * mean, s"dim=$dim max=$maxBucket mean=$mean")
    }
  }

  test("group-local scoring emits each unordered pair exactly once per direction") {
    val sims = SparseAnn.candidateSimsIvf(analysis, matrix, lists = 4)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(sims.length == sims.distinct.length,
      "duplicate (vector, neighbor) rows — duplicate unordered pair derivation")
  }

  // THE CLUSTERED-REGIME RECALL FLOOR (r13, VERDICT r12 What's-wrong #3):
  // cosine_topk_ivf_recall and its clustered twin assert no floor at the
  // contract layer, so a dim-hash or ladder change could silently degrade
  // the WINNING regime (the r12 charFold change moved clustered sf0.01
  // recall 0.46→0.66 and single-mode 0.52→0.43 with every row still
  // oracle-green — recall is self-consistent by construction). This pin
  // makes such a drop RED: the cosine_topk_clustered_ivf CONTRACT fixture
  // (disjoint coordinate blocks — the regime the IVF route is FOR, and
  // the regime the route's bench wins are conditioned on) must keep mean
  // top-5 recall at or above a measured-with-margin floor.
  test("clustered-regime IVF recall holds the measured floor (contract fixture, sf0.01)") {
    val sess = spark
    import sess.implicits._
    val m = graft.entry.EntryUtil
      .clusteredSupplierMatrix(spark, "/root/testdata/sf0.01")
    val exact = analysis.fit(m, isSparse = false).topSimilar(5)
      .select($"vector".as("query_id"), $"neighbor".as("vec_id"))
    val ivf = SparseAnn.topSimilarIvf(analysis, m, 5, pin = _.localCheckpoint())
      .select($"vector".as("query_id"), $"neighbor".as("vec_id"))
    val recalls = Embeddings.recallAtK(exact, ivf)
      .select("recall").collect().map(_.getDouble(0))
    val mean = recalls.sum / recalls.length
    info(f"clustered contract-fixture mean IVF recall = $mean%.3f")
    // 0.66 measured at r12's charFold hash (bench_sf1.json finding);
    // 0.5 is VERDICT r12's suggested floor — margin below the measured
    // value, far above the single-mode losing regime (~0.43)
    assert(mean >= 0.5, f"clustered-regime mean recall $mean%.3f fell below the 0.5 floor")
  }

  test("topSimilarIvf construction runs 5 + (iters - 1) SQL actions under a checkpoint pin") {
    // the eager budget: table pin, list count, seed collect, one codebook
    // collect per Lloyd round after the first, ranked pin, membership
    // pin. Fence actions bracket the construction, so actions left on
    // the listener bus by earlier tests never count.
    val fenceCol = "sparse_ann_action_fence"
    val fences = new java.util.concurrent.atomic.AtomicInteger(0)
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == fenceCol)) fences.incrementAndGet()
        else if (fences.get() == 1) actions.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        onSuccess(funcName, qe, 0L)
    }
    def fence(seen: Int): Unit = {
      spark.range(1).toDF(fenceCol).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (fences.get() < seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(fences.get() == seen, "fence action never observed")
    }
    spark.listenerManager.register(listener)
    try {
      for (iters <- Seq(2, 3)) {
        fences.set(0)
        actions.clear()
        fence(1)
        SparseAnn.topSimilarIvf(analysis, matrix, 3, pin = _.localCheckpoint(), iters = iters)
        fence(2)
        assert(actions.size == 5 + (iters - 1),
          s"iters=$iters ran ${actions.size} actions: ${actions.asScala.mkString(", ")}")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("IVF family on degenerate inputs: brute-force answer or a require error") {
    val sess = spark
    import sess.implicits._
    val base = matrix.collect().toSeq
    val inputs: Seq[(String, Dataset[MatrixElement])] = Seq(
      "empty matrix" -> Seq.empty[MatrixElement].toDS(),
      "one vector" -> base.filter(_.y == "v01").toDS(),
      "a vector with one nonzero" ->
        (base :+ MatrixElement("v99", "c2", 3.0)).toDS())
    // probing every list makes the candidate set exhaustive, so the IVF
    // answers must equal the exact dense ones
    val lists = SparseAnn.IvfLists
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    def sorted(rs: Seq[Seq[Any]]) = rs.sortBy(_.map(_.toString).mkString("\u0000"))
    for ((name, m) <- inputs) {
      val vectors = m.collect().map(_.y).distinct
      val top = sorted(rows(SparseAnn.topSimilarIvf(analysis, m, 3, nprobe = lists)))
      val exactTop = sorted(rows(analysis.fit(m, isSparse = false).topSimilar(3)))
      assert(top == exactTop, name)
      val pred = SparseAnn.predictMissingIvf(analysis, m, 3, nprobe = lists)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val exactPred = analysis.predictMissing(m, 3)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      assert(pred.keySet == exactPred.keySet, name)
      pred.foreach { case (key, v) => assertApprox(v, exactPred(key)) }
      val occ = SparseAnn.listOccupancyIvf(analysis, m, nprobe = lists)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(occ.map(_._1).sum == vectors.length.toLong, name)
      assert(occ.forall { case (o, nSub) => o >= 1 && nSub == (o - 1) / SparseAnn.ListOccupancy + 1 },
        name)
    }
    // non-positive sizes are rejected up front, with the parameter named
    val rejected = Seq[(String, () => Any)](
      "k must be positive" -> (() => SparseAnn.topSimilarIvf(analysis, matrix, 0)),
      "k must be positive" -> (() => SparseAnn.topSimilarIvf(analysis, matrix, -1)),
      "neighbors must be positive" -> (() => SparseAnn.predictMissingIvf(analysis, matrix, 0)),
      "neighbors must be positive" -> (() => SparseAnn.predictMissingIvf(analysis, matrix, -2)),
      "maxOcc must be positive" -> (() => SparseAnn.listOccupancyIvf(analysis, matrix, maxOcc = 0)),
      "dim must be positive" -> (() => SparseAnn.topSimilarIvf(analysis, matrix, 3, dim = 0)))
    for ((msg, call) <- rejected) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }
}
