package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals of a set of completed stages. */
final case class StageTotals(stages: Int = 0, tasks: Int = 0, singleTaskStages: Int = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, fetchWaitMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0, input: Long = 0) {
  def +(o: StageTotals): StageTotals = StageTotals(stages + o.stages, tasks + o.tasks,
    singleTaskStages + o.singleTaskStages, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    fetchWaitMs + o.fetchWaitMs, shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, input + o.input)
  def -(o: StageTotals): StageTotals = StageTotals(stages - o.stages, tasks - o.tasks,
    singleTaskStages - o.singleTaskStages, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    fetchWaitMs - o.fetchWaitMs, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, input - o.input)
}

/**
 * The benchmark's view of the engine. Every Spark job and stage is keyed
 * to the span that was open on the client thread when it started (through
 * a local property, which Spark copies into the job's properties), so
 * executor metrics attribute to spans exactly. Query planning time comes
 * from each query's [[org.apache.spark.sql.catalyst.QueryPlanningTracker]]
 * and is attributed by its wall-clock interval.
 *
 * Untraced runs open one span per job and nothing else, which is what the
 * per-job executor CPU needs. Traced runs open the full hierarchy
 * job → call → construct / exec, and the engine adds planning, Spark job
 * and stage spans below them. Spans are kept in memory and written once, by
 * [[writeSpans]], when the run ends.
 */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stack = mutable.Stack.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += JobRec(e.jobId, spanOf(e.properties), e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) {
        val t = StageTotals(1, si.numTasks, if (si.numTasks == 1) 1 else 0,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, m.inputMetrics.bytesRead)
        stages += StageRec(si.stageId, stageSpan.getOrElse(si.stageId, -1),
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), t)
      }
    }
  }
  sc.addSparkListener(listener)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (planning.nonEmpty) Tracer.this.synchronized {
        plans += PlanRec(funcName, planning.map(_.startTimeMs).min,
          planning.map(_.endTimeMs).max, planning.map(_.durationMs).sum)
      }
    }
  }
  if (traced) spark.listenerManager.register(qeListener)

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)

  /** Whether the finer spans (call, construct, exec) are recorded. */
  var fine: Boolean = false

  /** Run `body` inside a new span. Jobs always open a span (the per-job
    * executor CPU needs it); finer kinds open one only while a traced run
    * has `fine` on. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (kind != "job" && !(traced && fine)) body
    else spanned(name, kind)(body)._1

  def spanned[T](name: String, kind: String)(body: => T): (T, Span) = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, kind,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack.push(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until the engine has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbenchbus.Bus.drain(sc)

  /** Span ids of `root` and everything below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root).toSet
  }

  def totals(ids: Set[Int]): StageTotals = synchronized {
    stages.iterator.filter(s => ids(s.span)).map(_.totals).foldLeft(StageTotals())(_ + _)
  }

  def jobCount(ids: Set[Int]): Int = synchronized(jobs.count(j => ids(j.span)))

  /** Planning seconds of the queries that started inside span `s`. */
  def planSeconds(s: Span): Double = synchronized {
    plans.iterator.filter(p => p.startMs >= s.startMs && p.startMs <= s.endMs)
      .map(_.planMs).sum / 1e3
  }

  def byKind(root: Int, kind: String): Seq[Span] = {
    val ids = subtree(root)
    spans.filter(s => ids(s.id) && s.kind == kind).toSeq
  }

  /** One JSON line per span (client, planning, job and stage spans). */
  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    val b = new StringBuilder
    def line(id: String, parent: String, name: String, kind: String, start: Long, end: Long): Unit =
      b.append(s"""{"id":"$id","parent":"$parent","name":"${Json.esc(name)}","kind":"$kind","start_ms":$start,"end_ms":$end}""")
        .append('\n')
    for (s <- spans) line(s"c${s.id}", if (s.parent < 0) "" else s"c${s.parent}", s.name, s.kind, s.startMs, s.endMs)
    for ((p, i) <- plans.zipWithIndex) {
      val parent = spans.filter(s => s.startMs <= p.startMs && p.startMs <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(s => s"c${s.id}").getOrElse("")
      line(s"p$i", parent, p.func, "planning", p.startMs, p.endMs)
    }
    for (j <- jobs)
      line(s"j${j.jobId}", if (j.span < 0) "" else s"c${j.span}", s"spark job ${j.jobId}", "spark_job",
        j.startMs, j.endMs)
    for (st <- stages) {
      val j = jobs.filter(j => j.span == st.span && j.startMs <= st.submitMs).sortBy(-_.startMs).headOption
      line(s"s${st.stageId}", j.map(x => s"j${x.jobId}").getOrElse(""), s"stage ${st.stageId}", "stage",
        st.submitMs, st.completeMs)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, b.toString)
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    if (traced) spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, kind: String,
      startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class JobRec(jobId: Int, span: Int, startMs: Long, var endMs: Long)
  final case class StageRec(stageId: Int, span: Int, submitMs: Long, completeMs: Long, totals: StageTotals)
  final case class PlanRec(func: String, startMs: Long, endMs: Long, planMs: Long)
}

/** Largest heap occupancy right after a GC, while armed. `arm` starts a
  * new interval; `peakMb` reads the current one's peak. */
final class HeapPeak {
  @volatile private var armed = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def arm(): Unit = { peak = 0L; armed = true }
  def peakMb: Double = peak / (1024.0 * 1024.0)
  /** Stop recording for good. */
  def disarm(): Unit = {
    armed = false
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
  }
}
