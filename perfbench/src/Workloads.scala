package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.CosineAnalysis
import graft.ext.{Dedup, Pipelines, SparseAnn, TextAnalysis}
import graft.sources.Sources

/** What a workload's code needs: the session, the tracer, its input
  * directory and seed. `call` wraps the construction of a library call's
  * result, `materialize` runs it to the end through the `noop` sink (a
  * `count()` would let Catalyst prune the computed columns). */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val dir: String,
    val seed: Long, val cores: Int) {
  def call[T](name: String)(body: => T): T = tracer.span(name, "construct")(body)
  def materialize(name: String, df: DataFrame): Unit =
    tracer.span(name, "exec")(Ctx.noop(df))
  /** Where the warm-up job keeps result `name` for the check. */
  def saved(name: String): String = s"$dir/results/$name.parquet"
  def rnd(salt: Long): SplittableRandom = new SplittableRandom(seed * 1000003L + salt)
}

object Ctx {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** One library call of a workload's call graph. `build` constructs the
  * call's result (eager work runs inside it); `inputs` name the calls
  * whose results it consumes. */
final case class Node(name: String, inputs: Seq[String], build: () => DataFrame)

/**
 * A workload: seeded inputs, the job the closed-loop client repeats, the
 * correctness check, and the call graph the traced run attributes time to.
 *
 * The job hands each result to a sink: the timed jobs materialize them
 * through `noop`; the first warm-up job saves them for the check instead.
 */
abstract class Workload {
  def name: String
  /** Writes the inputs under ctx.dir; returns their properties. */
  def generate(ctx: Ctx): Seq[(String, Double)]
  /** Input rows one job processes. */
  def inputRows: Double
  /** Jobs run before timing starts, the first one cold. */
  def warmupJobs: Int = 2
  def job(ctx: Ctx, sink: (String, DataFrame) => Unit): Unit
  /** Checks the saved warm-up results against the brute force; returns
    * the workload's recall. */
  def check(ctx: Ctx, r: Check.Report): Double
  def nodes(ctx: Ctx): Seq[Node]
  /** Traced-run ratios, counted where the work happens. */
  def ratios(ctx: Ctx): Seq[(String, Double)]
}

object Workloads {
  val all: Seq[Workload] = Seq(CosineIvf, CorpusClean)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload '$n' (${all.map(_.name).mkString(", ")})"))

  private val CooSchema = StructType(Seq(
    StructField("y", StringType, nullable = false),
    StructField("x", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** The matrix as COO parquet, rows in seeded order, one file per core. */
  def writeCoo(ctx: Ctx, m: Gen.Coo, path: String): Unit = {
    val order = Gen.permutation(m.cells, ctx.rnd(7))
    val rows = order.toSeq.map(i => Row(m.vecIds(m.ys(i)), m.coordIds(m.xs(i)), m.vals(i)))
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.cores), CooSchema)
      .write.mode("overwrite").parquet(path)
  }

  def savedRows(ctx: Ctx, name: String): Array[Row] = ctx.spark.read.parquet(ctx.saved(name)).collect()

  def rows(df: DataFrame): Double = df.count().toDouble
}

import Workloads._

/** The paper's top-k neighbors through the IVF candidate route. */
object CosineIvf extends Workload {
  val name = "cosine-ivf"
  val Vectors = 3000
  // graft's clustered fixture: 32 disjoint blocks of 64 coordinates
  val Clusters = 32
  val BlockCoords = 64
  val Items = 600
  private var m: Gen.Coo = _
  private var ref: Check.Ref = _
  private def path(ctx: Ctx) = s"${ctx.dir}/matrix.parquet"
  private val pin: DataFrame => DataFrame = _.localCheckpoint()

  def generate(ctx: Ctx): Seq[(String, Double)] = {
    m = Gen.supplierMatrix(ctx.seed, Vectors, Clusters, BlockCoords, Items)
    writeCoo(ctx, m, path(ctx))
    ref = new Check.Ref(m)
    Gen.cooProps(m) :+ ("clusters" -> Clusters.toDouble)
  }

  def inputRows: Double = m.cells.toDouble
  // C2 is still speeding the route's driver-side code up after two jobs
  override def warmupJobs: Int = 3

  def job(ctx: Ctx, sink: (String, DataFrame) => Unit): Unit = {
    val mat = ctx.call("sources.readTriplesParquet")(Sources.readTriplesParquet(ctx.spark, path(ctx)))
    val ca = new CosineAnalysis(ctx.spark)
    sink("ext.SparseAnn.topSimilarIvf",
      ctx.call("ext.SparseAnn.topSimilarIvf")(SparseAnn.topSimilarIvf(ca, mat, 10, pin)))
  }

  def check(ctx: Ctx, r: Check.Report): Double = {
    // every vector: the recall is a property of the whole index, not of a sample
    val s = (0 until ref.nVec).filter(ref.present)
    val tops = savedRows(ctx, "ext.SparseAnn.topSimilarIvf").groupBy(_.getString(0))
    val recalls = s.map { v =>
      val rows = tops.getOrElse(ref.id(v), Array.empty[Row]).toSeq
        .map(x => (x.getLong(1), x.getString(2), x.getDouble(3)))
      Check.topKRows(ref, v, 10, rows, r)
      Check.recall(ref, v, 10, rows.map(_._2))
    }
    r.expect(tops.size * 2 >= s.size, s"topSimilarIvf listed neighbors for ${tops.size} of ${s.size} vectors")
    recalls.sum / recalls.size
  }

  def nodes(ctx: Ctx): Seq[Node] = {
    val ca = new CosineAnalysis(ctx.spark)
    def mat = Sources.readTriplesParquet(ctx.spark, path(ctx))
    Seq(
      Node("sources.readTriplesParquet", Nil, () => mat.toDF()),
      Node("core.normalize", Seq("sources.readTriplesParquet"), () => ca.normalize(mat).toDF()),
      Node("ext.SparseAnn.candidateSimsIvf", Seq("core.normalize"),
        () => SparseAnn.candidateSimsIvf(ca, mat, pin)),
      Node("ext.SparseAnn.topSimilarIvf", Seq("ext.SparseAnn.candidateSimsIvf"),
        () => SparseAnn.topSimilarIvf(ca, mat, 10, pin)))
  }

  def ratios(ctx: Ctx): Seq[(String, Double)] = {
    val ca = new CosineAnalysis(ctx.spark)
    val mat = Sources.readTriplesParquet(ctx.spark, path(ctx))
    Seq("ext.SparseAnn.candidates_per_result" ->
      rows(SparseAnn.candidateSimsIvf(ca, mat, pin)) /
        rows(ctx.spark.read.parquet(ctx.saved("ext.SparseAnn.topSimilarIvf"))))
  }
}

/** The training-data pipeline: near-dup dedup, quality gate, decontamination. */
object CorpusClean extends Workload {
  val name = "corpus-clean"
  val Spec = Gen.CorpusSpec(docs = 8000, vocab = 20000, zipfS = 1.0,
    minLen = 20, maxLen = 80, stopRate = 0.2,
    dupBaseRate = 0.04, maxCopies = 3, editRate = 0.03,
    boilerRate = 0.1, evalRate = 0.02, contamRate = 0.01,
    shortRate = 0.02, repetitiveRate = 0.01)
  private var corpus: Gen.Corpus = _
  private def path(ctx: Ctx) = s"${ctx.dir}/corpus.parquet"
  private val pin: DataFrame => DataFrame = _.localCheckpoint()
  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))

  def generate(ctx: Ctx): Seq[(String, Double)] = {
    corpus = Gen.corpus(ctx.seed, Spec)
    val rows = corpus.docs.toSeq.map(d => Row(d.id, d.text, d.source))
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.cores), DocSchema)
      .write.mode("overwrite").parquet(path(ctx))
    corpus.props
  }

  def inputRows: Double = corpus.docs.length.toDouble

  private def docs(ctx: Ctx): DataFrame = ctx.spark.read.parquet(path(ctx))

  def job(ctx: Ctx, sink: (String, DataFrame) => Unit): Unit = {
    val d = ctx.call("input.read")(docs(ctx))
    sink("ext.Pipelines.cleanCorpus", ctx.call("ext.Pipelines.cleanCorpus")(
      Pipelines.cleanCorpus(d, "doc_id", "text", "source", "eval", pin = pin)))
  }

  def check(ctx: Ctx, r: Check.Report): Double = {
    val rows = ctx.spark.read.parquet(ctx.saved("ext.Pipelines.cleanCorpus"))
      .select("doc_id", "n_tokens").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    Check.cleanCorpus(corpus.docs, rows, r)
  }

  def nodes(ctx: Ctx): Seq[Node] = {
    def d = docs(ctx)
    def sh = Dedup.shingles(d, "doc_id", "text")
    def groups = Dedup.dupGroups(d, pin(Dedup.minHashDups(d, "doc_id", "text").select("doc0", "doc1")),
      "doc_id")
    Seq(
      Node("input.read", Nil, () => d),
      Node("ext.Dedup.shingles", Seq("input.read"), () => sh),
      Node("ext.Dedup.minHashSignatures", Seq("ext.Dedup.shingles"), () => Dedup.minHashSignatures(sh)),
      Node("ext.Dedup.minHashCandidates", Seq("ext.Dedup.minHashSignatures"),
        () => Dedup.minHashCandidates(Dedup.minHashSignatures(sh))),
      Node("ext.Dedup.minHashDups", Seq("ext.Dedup.minHashCandidates"),
        () => Dedup.minHashDups(d, "doc_id", "text")),
      Node("ext.Dedup.dupGroups", Seq("ext.Dedup.minHashDups"), () => groups),
      Node("ext.TextAnalysis.tokenCounts", Seq("input.read"),
        () => TextAnalysis.tokenCounts(d, "doc_id", "text")),
      Node("ext.Dedup.keepBest", Seq("ext.Dedup.dupGroups", "ext.TextAnalysis.tokenCounts"),
        () => Dedup.keepBest(groups, TextAnalysis.tokenCounts(d, "doc_id", "text"), "doc_id", "ws_tokens")),
      Node("ext.TextAnalysis.qualityFilter", Seq("input.read"),
        () => TextAnalysis.qualityFilter(d, "doc_id", "text")),
      Node("ext.Dedup.contamination", Seq("input.read"), () => {
        val all = d
        Dedup.contamination(all.where(col("source") =!= "eval"), all.where(col("source") === "eval"),
          "doc_id", "text")
      }),
      Node("ext.Pipelines.cleanCorpus",
        Seq("ext.Dedup.keepBest", "ext.TextAnalysis.qualityFilter", "ext.Dedup.contamination"),
        () => Pipelines.cleanCorpus(d, "doc_id", "text", "source", "eval", pin = pin)))
  }

  def ratios(ctx: Ctx): Seq[(String, Double)] = {
    val d = docs(ctx)
    Seq("ext.Dedup.lsh_precision" ->
      rows(Dedup.minHashDups(d, "doc_id", "text")) /
        rows(Dedup.minHashCandidates(Dedup.minHashSignatures(Dedup.shingles(d, "doc_id", "text")))))
  }
}
