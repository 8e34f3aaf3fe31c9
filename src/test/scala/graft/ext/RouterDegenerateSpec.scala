package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.SparkSpec
import graft.core.{CosineAnalysis, FactorNormalizedValue, MatrixElement}

/** The kernel-router family on degenerate inputs — an empty table, one
  * document / vector / edge, one key holding every posting, `maxDf = 0`
  * and a negative budget. Each row either equals brute force (the
  * surface columns recounted in plain Scala, the routed output equal to
  * the kernel the route names, called directly) or fails with a
  * `require` message that names the bad parameter. */
class RouterDegenerateSpec extends SparkSpec {
  implicit lazy val s: SparkSession = spark
  import s.implicits._

  // ---- brute force -------------------------------------------------------

  private case class Surface(postings: Long, maxDf: Long, uncapped: Long,
      capped: Long, retained: Long)

  private def c2(d: Long): Long = d * (d - 1) / 2

  private def surface(keys: Seq[Any], maxDf: Long): Surface = {
    val dfs = keys.groupBy(identity).values.map(_.size.toLong).toSeq
    val kept = dfs.filter(_ <= maxDf)
    Surface(dfs.sum, if (dfs.isEmpty) 0L else dfs.max, dfs.map(c2).sum,
      kept.map(c2).sum, kept.sum)
  }

  private def assertSurface(r: Row, want: Surface): Unit = {
    assert(r.getAs[Long]("postings") == want.postings, r.toString)
    assert(r.getAs[Long]("max_df") == want.maxDf, r.toString)
    assert(r.getAs[Long]("uncapped_pairs") == want.uncapped, r.toString)
    assert(r.getAs[Long]("capped_pairs") == want.capped, r.toString)
    assert(r.getAs[Long]("retained_postings") == want.retained, r.toString)
  }

  private def jaccardRows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

  private def alignedRows(ds: Dataset[FactorNormalizedValue]) =
    ds.collect().map(p => (p.vector0, p.vector1, p.prediction_axis, p.value1, p.value2))
      .sorted.toSeq

  private def assertRejects(param: String)(call: => Any): Unit = {
    val e = intercept[IllegalArgumentException](call)
    assert(e.getMessage.contains(param), s"message '${e.getMessage}' does not name $param")
  }

  // ---- the three routers, checked against brute force --------------------

  private def checkDedup(texts: Seq[String], maxDf: Long, budget: Long): Unit = {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, "g", t) }
      .toDF("doc_id", "grp", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Any]("sh"))).toSeq
    val want = surface(sh.map(_._2), maxDf)
    val budgetPairs = sh.map(_._1).distinct.size * budget
    val kernel =
      if (want.uncapped <= budgetPairs) "exact"
      else if (want.capped <= budgetPairs && want.retained * 2 >= want.postings)
        "prefix_dfcap"
      else "minhash_banded"
    val rows = Dedup.autoRoute(docs, "doc_id", "text", "grp", maxDf, budget).collect()
    if (sh.isEmpty) assert(rows.isEmpty, rows.toSeq.toString)
    else {
      assert(rows.length == 1, rows.toSeq.toString)
      assertSurface(rows(0), want)
      assert(rows(0).getAs[Long]("budget_pairs") == budgetPairs)
      assert(rows(0).getAs[String]("kernel") == kernel, rows(0).toString)
    }
    val routed = jaccardRows(Dedup.autoDedupPairs(docs, "doc_id", "text",
      minJaccard = 0.3, maxDf = maxDf, budgetPairsPerDoc = budget))
    val direct = jaccardRows(kernel match {
      case "exact" => Dedup.ngramJaccardDups(docs, "doc_id", "text", 0.3)
      case "prefix_dfcap" =>
        Dedup.prefixJaccardDups(docs, "doc_id", "text", 0.3, maxDf = Some(maxDf))
      case _ =>
        Dedup.minHashDupsFromShingles(Dedup.shingles(docs, "doc_id", "text"), 0.3)
    })
    assert(routed == direct, s"$kernel: routed $routed direct $direct")
  }

  private def checkCosine(cells: Seq[(String, String)], maxDf: Long,
      budget: Long): Unit = {
    val m = cells.map { case (y, x) => MatrixElement(y, x, 1.0) }.toDS()
    val want = surface(cells.map(_._2), maxDf)
    val hot = c2(want.maxDf)
    val budgetPairs = cells.map(_._1).distinct.size * budget
    val kernel =
      if (want.uncapped <= budgetPairs && hot * 3 <= want.uncapped * 2) "exact"
      else if (want.uncapped <= budgetPairs) "salted"
      else "dfcap"
    val rows = CosineAnalysis.autoRouteAligned(m.toDF().withColumn("grp", lit("g")),
      "y", "x", "grp", maxDf, budget).collect()
    if (cells.isEmpty) assert(rows.isEmpty, rows.toSeq.toString)
    else {
      assert(rows.length == 1, rows.toSeq.toString)
      assertSurface(rows(0), want)
      assert(rows(0).getAs[Long]("hot_pairs") == hot)
      assert(rows(0).getAs[Long]("budget_pairs") == budgetPairs)
      assert(rows(0).getAs[String]("kernel") == kernel, rows(0).toString)
    }
    val a = new CosineAnalysis(spark)
    val routed = alignedRows(a.autoAlignedPairs(m, maxDf, budget))
    val n = a.normalize(m)
    val direct = alignedRows(kernel match {
      case "exact"  => a.alignedPairs(n)
      case "salted" => a.alignedPairsSalted(n)
      case _        => a.alignedPairs(a.dfCap(n, maxDf))
    })
    assert(routed == direct, s"$kernel: routed $routed direct $direct")
  }

  private def checkTriangles(edges: Seq[(Long, Long)], budget: Long): Unit = {
    val und = edges.collect { case (u, v) if u != v => (u min v, u max v) }.distinct
    val deg = und.flatMap { case (u, v) => Seq(u, v) }.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val outdeg = und.map { case (u, v) =>
      if (deg(u) < deg(v) || (deg(u) == deg(v) && u < v)) u else v
    }.groupBy(identity).values.map(_.size.toLong)
    val wedges = outdeg.map(c2).sum
    val budgetWedges = und.size * budget
    val colors =
      if (wedges <= budgetWedges) 1L
      else math.ceil(math.sqrt(wedges.toDouble / budgetWedges.toDouble)).toLong
    val edgeSet = und.toSet
    val nodes = deg.keys.toSeq.sorted
    val triangles = (for {
      x <- nodes; y <- nodes if y > x; z <- nodes if z > y
      if edgeSet((x, y)) && edgeSet((y, z)) && edgeSet((x, z))
    } yield 1L).sum
    val g = edges.toDF("src", "dst")
    val r = Graph.triangleRoute(g, budget).collect()
    assert(r.length == 1, r.toSeq.toString)
    assert(r(0).getAs[Long]("n_nodes") == deg.size.toLong, r(0).toString)
    assert(r(0).getAs[Long]("n_edges") == und.size.toLong, r(0).toString)
    assert(r(0).getAs[Long]("wedges") == wedges, r(0).toString)
    assert(r(0).getAs[Long]("budget_wedges") == budgetWedges, r(0).toString)
    assert(r(0).getAs[Long]("n_colors") == colors, r(0).toString)
    val kernel = if (colors == 1L) "exact" else "colorful"
    assert(r(0).getAs[String]("kernel") == kernel, r(0).toString)
    val t = Graph.autoTriangleTotal(g, budget).collect().head
    val direct =
      if (kernel == "exact") triangles
      else Graph.colorfulTriangleTotal(g, colors.toInt).collect().head
        .getAs[Long]("triangles_est")
    assert(t.getAs[Long]("triangles") == direct, t.toString)
  }

  // ---- the table ---------------------------------------------------------

  private val AnyDoc = "alpha beta gamma delta epsilon"
  private val SharedDoc = "one shingle only" // every copy: the same single shingle

  /** (input, documents, cosine cells, edges) — one key holding every
    * posting is six docs on one shingle, six vectors on one coordinate
    * and a ten-leaf star. */
  private val inputs: Seq[(String, Seq[String], Seq[(String, String)], Seq[(Long, Long)])] =
    Seq(
      ("empty", Nil, Nil, Nil),
      ("one doc, vector and edge", Seq(AnyDoc),
        Seq(("v0", "c0"), ("v0", "c1"), ("v0", "c2")), Seq((1L, 2L))),
      ("one key holding every posting", Seq.fill(6)(SharedDoc),
        (0 until 6).map(v => (s"v$v", "c")), (1L to 10L).map(l => (0L, l))))

  /** (label, dedup (maxDf, budget), cosine (maxDf, budget), triangle
    * budget): the defaults, then a tight set that pushes the one-key
    * inputs past the first rung. */
  private val params = Seq(
    ("default", (Dedup.AutoRouteMaxDf, Dedup.AutoRouteBudgetPerDoc),
      (CosineAnalysis.AutoAlignMaxDf, CosineAnalysis.AutoAlignBudgetPerVec), 128L),
    ("tight", (4L, 1L), (4L, 1L), 1L))

  for ((name, texts, cells, edges) <- inputs;
       (label, dedup, cosine, triangle) <- params) {
    test(s"dedup router, $name ($label): brute-force surface, routed = direct kernel") {
      checkDedup(texts, dedup._1, dedup._2)
    }
    test(s"cosine router, $name ($label): brute-force surface, routed = direct kernel") {
      checkCosine(cells, cosine._1, cosine._2)
    }
    test(s"triangle router, $name ($label): brute-force surface, routed = direct kernel") {
      checkTriangles(edges, triangle)
    }
  }

  test("triangleRoute on an empty graph: one zero row, kernel exact") {
    val r = Graph.triangleRoute(Seq.empty[(Long, Long)].toDF("src", "dst"), 8L)
      .collect()
    assert(r.length == 1)
    assert(r(0).toSeq == Seq(0L, 0L, 0L, 0L, 1L, "exact"), r(0).toString)
  }

  test("maxDf = 0 and negative budgets fail with a require naming the parameter") {
    val docs = Seq((0L, "g", AnyDoc)).toDF("doc_id", "grp", "text")
    val m = Seq(MatrixElement("v0", "c0", 1.0)).toDS()
    val cells = m.toDF().withColumn("grp", lit("g"))
    val g = Seq((1L, 2L)).toDF("src", "dst")
    val a = new CosineAnalysis(spark)
    assertRejects("maxDf")(Dedup.autoRoute(docs, "doc_id", "text", "grp", maxDf = 0L))
    assertRejects("maxDf")(Dedup.autoDedupPairs(docs, "doc_id", "text", maxDf = 0L))
    assertRejects("maxDf")(CosineAnalysis.autoRouteAligned(cells, "y", "x", "grp", maxDf = 0L))
    assertRejects("maxDf")(a.autoAlignedPairs(m, maxDf = 0L))
    assertRejects("budgetPairsPerDoc")(
      Dedup.autoRoute(docs, "doc_id", "text", "grp", budgetPairsPerDoc = -1L))
    assertRejects("budgetPairsPerDoc")(
      Dedup.autoDedupPairs(docs, "doc_id", "text", budgetPairsPerDoc = -1L))
    assertRejects("budgetPairsPerVec")(
      CosineAnalysis.autoRouteAligned(cells, "y", "x", "grp", budgetPairsPerVec = -1L))
    assertRejects("budgetPairsPerVec")(a.autoAlignedPairs(m, budgetPairsPerVec = -1L))
    assertRejects("budgetPerEdge")(Graph.triangleRoute(g, -1L))
    assertRejects("budgetPerEdge")(Graph.autoTriangleTotal(g, -1L))
  }
}
