package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Metric names and units, in the order BENCHMARK.json lists them. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "rows_per_s" -> "rows/s", "cpu_s" -> "s",
    "peak_heap_mb" -> "MB", "recall" -> "ratio")

  /** The library calls the traced run attributes time to. */
  val Calls: Seq[String] = Seq(
    "sources.readTriplesParquet", "core.normalize",
    "ext.SparseAnn.candidateSimsIvf", "ext.SparseAnn.topSimilarIvf",
    "ext.Dedup.shingles", "ext.Dedup.minHashSignatures", "ext.Dedup.minHashCandidates",
    "ext.Dedup.minHashDups", "ext.Dedup.dupGroups", "ext.Dedup.keepBest", "ext.Dedup.contamination",
    "ext.TextAnalysis.tokenCounts", "ext.TextAnalysis.qualityFilter",
    "ext.Pipelines.cleanCorpus")

  /** Calls that run Spark jobs while they construct their result. */
  val EagerCalls: Seq[String] = Seq(
    "ext.SparseAnn.candidateSimsIvf", "ext.SparseAnn.topSimilarIvf", "ext.Pipelines.cleanCorpus")

  val Engine: Seq[(String, String)] = Seq(
    "construct_s" -> "s", "eager_jobs" -> "count", "plan_s" -> "s", "exec_s" -> "s",
    "task_s" -> "s", "gc_s" -> "s", "fetch_wait_s" -> "s", "parallelism" -> "ratio",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "single_task_stages" -> "count",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB", "scan_mb" -> "MB")

  val Other: Seq[(String, String)] = Seq(
    "ext.SparseAnn.candidates_per_result" -> "ratio",
    "ext.Dedup.lsh_precision" -> "ratio",
    "session.start_s" -> "s", "session.warmup_s" -> "s",
    "trace.overhead" -> "ratio", "trace.unattributed_s" -> "s")

  val PerLayer: Seq[(String, String)] =
    Engine.map { case (n, u) => s"engine.$n" -> u } ++
      Calls.flatMap(c => Seq(s"$c.self_s" -> "s", s"$c.task_s" -> "s", s"$c.shuffle_mb" -> "MB")) ++
      EagerCalls.flatMap(c => Seq(s"$c.construct_s" -> "s", s"$c.eager_jobs" -> "count")) ++
      Other

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  val MB: Double = 1024.0 * 1024.0
}

/**
 * One benchmark run: one workload, one seed, one JVM.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --dir D --cores C [--spans F]
 *
 * Set-up (setup_s, from JVM start with input generation excluded) is
 * SparkSessions.local plus the workload's warm-up jobs; the first one's
 * results are saved for the check. An untraced run then lets one
 * closed-loop client repeat the job for S seconds (and at least MinJobs
 * times) with tracing off. A traced run instead runs untraced and traced
 * jobs in alternating pairs, then materializes every call of the
 * workload's call graph on its own to split time by call. The saved
 * results are checked against the brute force either way. The last stdout
 * line starting with PERFBENCH_RESULT carries the result as JSON.
 */
object Main {
  import Metrics._

  val MinJobs = 1

  /** Progress lines go to stderr, which the runner keeps in its log. */
  def log(msg: String): Unit = Console.err.println(s"perfbench: $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val t0 = System.nanoTime
    val spark = graft.SparkSessions.local(s"perfbench-${w.name}", cores.toString)
    val startS = (System.nanoTime - t0) / 1e9
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, opts("dir"), seed, cores)
    val g0 = System.nanoTime
    val inputs = w.generate(ctx)
    val genS = (System.nanoTime - g0) / 1e9

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = w.warmupJobs + 1 // and the check
    val noop: (String, DataFrame) => Unit = (name, df) => ctx.materialize(name, df)
    // the first warm-up job saves its results for the check; the others
    // let the JIT catch up with the code paths the first one loaded
    val w0 = System.nanoTime
    for (i <- 0 until w.warmupJobs) {
      try w.job(ctx, if (i == 0) (name, df) => df.write.mode("overwrite").parquet(ctx.saved(name)) else noop)
      catch { case NonFatal(e) => failures += s"job warm-up $i: $e" }
    }
    val warmS = (System.nanoTime - w0) / 1e9
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1e3 - genS
    log(f"set-up $setupS%.3f s (session $startS%.3f s, warm-up $warmS%.3f s; generation $genS%.3f s excluded)")

    /** One job in its own span; None when it failed. */
    def run(i: Int): Option[Tracer.Span] = {
      attempted += 1
      try {
        val (_, span) = tracer.spanned(s"job $i", "job")(w.job(ctx, noop))
        log(f"job $i ${span.seconds}%.3f s")
        Some(span)
      } catch {
        case NonFatal(e) =>
          failures += s"job $i: $e"
          None
      }
    }

    val metrics: Seq[(String, Double)] =
      if (!traced) {
        // a full GC before each job keeps one job's garbage out of the next
        // one's after-GC occupancy; it runs outside the job's wall time
        val heap = new HeapPeak
        val done = mutable.ArrayBuffer.empty[Tracer.Span]
        val peaks = mutable.ArrayBuffer.empty[Double]
        val loop0 = System.nanoTime
        var i = 0
        while (i < MinJobs || (System.nanoTime - loop0) / 1e9 < seconds) {
          System.gc()
          heap.arm()
          run(i).foreach { s => done += s; peaks += heap.peakMb }
          i += 1
        }
        heap.disarm()
        tracer.drain()
        require(done.nonEmpty, "every timed job failed")
        val walls = done.map(_.seconds).toSeq
        Seq(
          "setup_s" -> setupS,
          "job_s" -> median(walls),
          "rows_per_s" -> w.inputRows * walls.size / walls.sum,
          "cpu_s" -> median(done.map(s => tracer.totals(tracer.subtree(s.id)).cpuNs / 1e9).toSeq),
          "peak_heap_mb" -> median(peaks.toSeq))
      } else {
        Seq("session.start_s" -> startS, "session.warmup_s" -> warmS) ++
          Traced.measure(w, ctx, tracer, cores, run)
      }

    val r = new Check.Report
    val recall = try w.check(ctx, r) catch { case NonFatal(e) => r.expect(ok = false, s"$e"); 0.0 }
    failures ++= r.failures.map(f => s"check: $f")

    val all = metrics :+ ("recall" -> recall)
    val units = (EndToEnd ++ PerLayer).toMap
    val unknown = all.map(_._1).toSet -- units.keySet
    require(unknown.isEmpty, s"unlisted metrics: ${unknown.mkString(", ")}")
    val got = all.toMap
    // a call the workload never makes did no work on it: its metrics are 0
    val out = (if (traced) PerLayer else EndToEnd).map { case (n, u) =>
      n -> Json.obj(Seq("value" -> Json.num(got.getOrElse(n, 0.0)), "unit" -> Json.str(u)))
    }
    val failedJobs = failures.count(_.startsWith("job"))
    val result = Json.obj(Seq(
      "correct" -> failures.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> (failedJobs + (if (r.ok) 0 else 1)).toString,
      "metrics" -> Json.obj(out),
      "inputs" -> Json.obj((inputs ++ Seq("generate_s" -> genS, "cores" -> cores.toDouble,
        "seed" -> seed.toDouble)).map { case (k, v) => k -> Json.num(v) }),
      "failures" -> failures.take(20).map(Json.str).mkString("[", ",", "]")))
    opts.get("spans").foreach(p => tracer.writeSpans(java.nio.file.Paths.get(p)))
    tracer.close()
    spark.stop()
    println("PERFBENCH_RESULT " + result)
  }
}

/** The traced run's measurements (the per-layer metrics). */
object Traced {
  import Metrics._

  val OverheadPairs = 3

  def measure(w: Workload, ctx: Ctx, tracer: Tracer, cores: Int,
      run: Int => Option[Tracer.Span]): Seq[(String, Double)] = {
    // untraced and traced jobs in alternating order, so that neither side
    // gains from the JIT's warming: the tracing overhead is the median of
    // the pairs' wall ratios, the last traced job gives the engine split
    val pairs = (0 until OverheadPairs).map { p =>
      val order = if (p % 2 == 0) Seq(false, true) else Seq(true, false)
      val jobs = order.zipWithIndex.map { case (fine, j) =>
        tracer.fine = fine
        fine -> run(2 * p + j)
      }.toMap
      tracer.fine = false
      require(jobs.values.forall(_.nonEmpty), "a job of the traced run failed")
      (jobs(false).get, jobs(true).get)
    }
    tracer.drain()
    val job = pairs.last._2
    val cons = tracer.byKind(job.id, "construct")
    val exec = tracer.byKind(job.id, "exec")
    val t = tracer.totals(tracer.subtree(job.id))
    val execS = exec.map(_.seconds).sum
    val engine = Seq(
      "construct_s" -> cons.map(_.seconds).sum,
      "eager_jobs" -> cons.map(c => tracer.jobCount(tracer.subtree(c.id)).toDouble).sum,
      "plan_s" -> tracer.planSeconds(job), "exec_s" -> execS, "task_s" -> t.runMs / 1e3,
      "gc_s" -> t.gcMs / 1e3, "fetch_wait_s" -> t.fetchWaitMs / 1e3,
      "parallelism" -> (if (execS > 0) t.runMs / 1e3 / (execS * cores) else 0.0),
      "jobs" -> tracer.jobCount(tracer.subtree(job.id)).toDouble, "stages" -> t.stages.toDouble,
      "tasks" -> t.tasks.toDouble, "single_task_stages" -> t.singleTaskStages.toDouble,
      "shuffle_write_mb" -> t.shuffleWrite / MB, "shuffle_read_mb" -> t.shuffleRead / MB,
      "spill_mb" -> t.spill / MB, "scan_mb" -> t.input / MB
    ).map { case (n, v) => s"engine.$n" -> v }

    // each call materialized on its own: self = its time minus the time of
    // everything upstream of it (each upstream call counted once)
    val nodes = w.nodes(ctx)
    final case class Stat(wall: Double, t: StageTotals, construct: Double, eagerJobs: Double)
    val stat = mutable.Map.empty[String, Stat]
    tracer.fine = true
    for (n <- nodes) {
      val (_, s) = tracer.spanned(n.name, "call")(ctx.materialize(n.name, ctx.call(n.name)(n.build())))
      tracer.drain()
      val c = tracer.byKind(s.id, "construct")
      stat(n.name) = Stat(s.seconds, tracer.totals(tracer.subtree(s.id)), c.map(_.seconds).sum,
        c.map(x => tracer.jobCount(tracer.subtree(x.id)).toDouble).sum)
    }
    tracer.fine = false
    val byName = nodes.map(n => n.name -> n).toMap
    def upstream(name: String): Set[String] =
      byName(name).inputs.toSet.flatMap((i: String) => upstream(i) + i)
    val selfWall = mutable.Map.empty[String, Double]
    val selfT = mutable.Map.empty[String, StageTotals]
    for (n <- nodes) {
      val up = upstream(n.name).toSeq
      selfWall(n.name) = stat(n.name).wall - up.map(selfWall).sum
      selfT(n.name) = stat(n.name).t - up.map(selfT).foldLeft(StageTotals())(_ + _)
    }
    val calls = nodes.filter(n => Calls.contains(n.name)).flatMap { n =>
      Seq(s"${n.name}.self_s" -> selfWall(n.name),
        s"${n.name}.task_s" -> selfT(n.name).runMs / 1e3,
        s"${n.name}.shuffle_mb" -> selfT(n.name).shuffleWrite / MB)
    }
    val construct = nodes.filter(n => EagerCalls.contains(n.name)).flatMap { n =>
      Seq(s"${n.name}.construct_s" -> stat(n.name).construct,
        s"${n.name}.eager_jobs" -> stat(n.name).eagerJobs)
    }
    Seq("trace.overhead" -> median(pairs.map { case (plain, traced) => traced.seconds / plain.seconds }),
      // what the per-call split leaves unexplained in the traced job
      "trace.unattributed_s" -> (job.seconds - selfWall.values.sum)) ++
      engine ++ calls ++ construct ++ w.ratios(ctx)
  }
}

/**
 * Runs every workload's job once in one JVM. The build runs this with
 * -XX:ArchiveClassesAtExit, so that later runs start from a class-data
 * archive of the classes the workloads load.
 *
 *   perfbench.Train --dir D --cores C
 */
object Train {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = opts("cores").toInt
    val spark = graft.SparkSessions.local("perfbench-train", cores.toString)
    val tracer = new Tracer(spark, traced = false)
    for (w <- Workloads.all) {
      val ctx = new Ctx(spark, tracer, s"${opts("dir")}/${w.name}", 1, cores)
      w.generate(ctx)
      w.job(ctx, (name, df) => ctx.materialize(name, df))
    }
    tracer.close()
    spark.stop()
  }
}
