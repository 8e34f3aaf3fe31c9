package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory (reference: utils/SparkSessionUtils.scala:6–15, minus its
 * hard-coded warehouse path). One place for the settings every entry point
 * (Verify, Bench, Demo, tests) must agree on:
 *
 *   - `spark.sql.session.timeZone=UTC` — oracle comparisons are tz-sensitive,
 *     and [[graft.ext.Events.normalizeTs]] converts the events table's naive
 *     parquet timestamps to epoch-nanosecond longs THROUGH this timezone (the
 *     DuckDB oracles read the same naive timestamps as-is).
 *   - shuffle partitions sized to the local core count rather than the 200
 *     default — on a real cluster this would be set to ~2–3× total cores.
 *   - a PER-JVM warehouse dir — the warehouse holds derived caches (the
 *     bucketed-layout tables); sharing one directory between concurrent
 *     JVMs (parallel test + bench runs) would let one process rm -rf a
 *     table another is actively reading. Process-scoped paths make that
 *     race impossible; the OS tmp reaper collects leftovers.
 *   - a generated-class cache large enough for a whole job. Spark's
 *     default holds 100 classes in four LRU segments of 25, and which
 *     segment a class lands in depends on the JVM's identity hash of the
 *     class loader. [[graft.ext.SparseAnn.topSimilarIvf]]'s job generates
 *     ~66 classes: in some JVMs no segment overflows and every job after
 *     the first compiles nothing; in others one does, and each job
 *     recompiles ~24-48 classes and reruns them cold — 3.3 s vs 5.0 s a
 *     job on the same 3000-vector input (4-core VM). Each cached class
 *     costs tens of KB of metaspace.
 */
object SparkSessions {
  /** Generated classes the session's codegen cache keeps (see above). */
  private val CodegenCacheEntries = 1000L

  def local(appName: String, cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val warehouse = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-warehouse-${ProcessHandle.current().pid()}").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      // The host this runs on shows episodic multi-second windows where
      // runnable vCPUs get ~1% of a core (see BENCH_r02: the in-process
      // executor missed enough 10s heartbeats that Spark killed the JVM
      // with ExecutorExitCode.HEARTBEAT_FAILURE=56 mid-bench). Heartbeats
      // between two threads of one JVM carry no liveness signal worth
      // dying for — stretch every liveness timeout far past any
      // starvation window.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.executor.heartbeat.maxFailures", "120")
      .config("spark.network.timeout", "7200s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
