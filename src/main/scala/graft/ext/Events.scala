package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PairSurface

/**
 * Batch analytics over the event stream table: tumbling-window aggregation
 * and gap-based sessionization.
 *
 * All window arithmetic here works on `ts` as an exact epoch-nanosecond
 * int64 — no float timestamps, no timezone dependence, and a double would
 * silently lose precision above 2^53 ns (~104 days). [[read]] normalizes
 * whatever the parquet reader produced (a timestamp of any precision, or
 * an already-long epoch column) to that representation at the scan
 * boundary, so every operator below sees one time type. The streaming
 * twin of these operators is [[graft.streaming.EventsStream]].
 *
 * Scale: both operators are single-shuffle — hourly by (hour, type) with
 * map-side partial aggregation; sessionize by user_id (window + final agg
 * reuse the same hash partitioning, so Catalyst plans one exchange).
 */
object Events {

  val NsPerSec: Long = 1000000000L
  val NsPerHour: Long = 3600L * NsPerSec
  val NsPerDay: Long = 24L * NsPerHour
  val DefaultGapNs: Long = 30L * 60 * NsPerSec

  def read(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))

  /**
   * `ts` → epoch-nanosecond Long, whatever the source typed it as: a Long
   * passes through untouched; TIMESTAMP_NTZ (the current testdata, µs
   * precision) converts via `timestampdiff(MICROSECOND, epoch, ts)` —
   * pure wall-clock field arithmetic between two NTZ values, so the
   * result is the fields-read-as-UTC epoch REGARDLESS of the session
   * timezone (the earlier `cast(ts as timestamp)` spelling consulted
   * `spark.sql.session.timeZone` and silently shifted every value for a
   * non-UTC caller — ADVICE r6); an instant-typed TIMESTAMP converts via
   * `unix_micros`, which reads the instant directly and is likewise
   * tz-independent. Matches how the DuckDB oracles read the same naive
   * timestamps. Centralized here so a regenerated dataset changing the
   * parquet time type can never silently change operator semantics.
   */
  def normalizeTs(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => events
      case org.apache.spark.sql.types.TimestampNTZType => events.withColumn("ts",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case _ => events.withColumn("ts",
        expr("unix_micros(cast(ts as timestamp)) * 1000"))
    }

  /**
   * Tumbling 1-hour windows per event type: event counts, value sum/avg.
   * `hour_start_sec` is the window's epoch-second start.
   */
  def hourly(events: DataFrame): DataFrame =
    events
      .groupBy(
        (expr(s"ts div $NsPerHour") * 3600L).as("hour_start_sec"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"),
        avg(col("value")).as("avg_value"))

  /**
   * Hourly DISTINCT-user counts per event type — the unique-reach
   * companion to [[hourly]]'s volume counts (a bot retries or one hot
   * user can inflate n_events while reach stays flat; the ratio is the
   * abuse signal). Exact count-distinct: the shuffle carries one row per
   * distinct (hour, type, user) — Spark's two-stage distinct-aggregate
   * rewrite — which is the honest cost of exactness; at full scale the
   * bounded-state alternative is the HLL register aggregate
   * ([[TextAnalysis.hllVocabAudit]]'s sketch keyed by (hour, type)),
   * calibrated against this exact form on a sample.
   */
  def hourlyUniques(events: DataFrame): DataFrame =
    events
      .groupBy(
        (expr(s"ts div $NsPerHour") * 3600L).as("hour_start_sec"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        (count(lit(1)).cast("double") /
          countDistinct(col("user_id")).cast("double")).as("events_per_user"))

  /**
   * Exponentially-decayed per-user engagement — the recency-weighted
   * feature a ranking/personalization model reads instead of raw
   * counts: every event contributes `exp(−ln2 · age / halfLife)` (a
   * half-life-days-old event counts half), so one score captures both
   * volume and recency with no arbitrary cutoff window. Returns per
   * user the raw count, the decayed event count, and the decayed value
   * sum, aged relative to the corpus max timestamp.
   *
   * Determinism: the decay rate `ln2 / halfLife` is computed ONCE in
   * the JVM and interpolated as a literal into both engines (the
   * [[graft.ext.Retrieval.dcgGains]] convention), so the only
   * engine-side transcendental is `exp` — whose last-ulp differences
   * sit far below the 1e-6 snap grid (the `temperatureMix` argument).
   *
   * Scale shape: the max-timestamp aggregate is ONE row crossed back
   * via the sanctioned scalar broadcast; the weighting is row-local;
   * one user-keyed aggregate with map-side partials.
   */
  def decayedEngagement(events: DataFrame,
      halfLifeDays: Double = 7.0): DataFrame = {
    require(halfLifeDays > 0)
    val lambdaPerNs = math.log(2.0) / (halfLifeDays * NsPerDay.toDouble)
    val tmax = events.agg(max(col("ts")).as("tmax"))
    val snapC = (c: Column) => floor(c * lit(1e6) + lit(0.50001)) / lit(1e6)
    events.crossJoin(broadcast(tmax))
      .select(col("user_id"), col("value"),
        exp((col("ts") - col("tmax")).cast("double") * lit(lambdaPerNs))
          .as("w"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        snapC(sum(col("w"))).as("decayed_events"),
        snapC(sum(col("w") * col("value"))).as("decayed_value"))
  }

  /**
   * Hourly volume anomaly scores — the ops-monitoring read on top of
   * [[hourly]]: each (hour, event_type) cell's event count is z-scored
   * against that SAME type's across-hours distribution (population
   * stddev), so a traffic spike, an outage hour, or a broken producer
   * surfaces as |z| ≫ 0 without any per-type threshold tuning. Types
   * with zero count variance carry no anomaly signal and are absent
   * (also keeps the output NULL-free for the driver's hash compare).
   *
   * Scale shape: the hourly aggregate (map-side partial), a per-type
   * aggregate of the CELLS table (hours-sized, model-small), and one
   * broadcast-sized join back — the corpus is read once; nothing keyed
   * finer than (hour, type).
   */
  def hourlyAnomaly(events: DataFrame): DataFrame = {
    val cells = hourly(events).select("hour_start_sec", "event_type", "n_events")
    val dist = cells.groupBy("event_type")
      .agg(avg(col("n_events").cast("double")).as("mean_n"),
        stddev_pop(col("n_events").cast("double")).as("std_n"))
      .where(col("std_n") > 0.0)
    cells.join(dist, "event_type")
      .select(col("hour_start_sec"), col("event_type"), col("n_events"),
        ((col("n_events").cast("double") - col("mean_n")) / col("std_n")).as("z"))
  }

  /**
   * Rolling distinct reach (the 7-day-active-users / WAU curve): for
   * each day index, how many DISTINCT users had at least one event in
   * the trailing `windowDays`-day window ending that day. `dayTicks` is
   * one day in the `ts` column's unit (ns from [[read]]).
   *
   * Scale shape: rolling COUNT DISTINCT has no windowed form (distinct
   * does not decompose over sliding frames), and the naive spellings —
   * a `windowDays`-way self-join, or re-scanning the window per day —
   * are quadratic in the horizon. This is the bounded-explode shape
   * instead: collapse the stream to DISTINCT (user, day) — the ONE
   * fact-sized exchange — then each active day contributes to exactly
   * `windowDays` window rows (a row-local explode of a constant-length
   * sequence), dedup (user, window) and count. Work is
   * active-user-days × windowDays, independent of per-day event volume.
   * Emitted days are those with ≥1 active user in their trailing window.
   */
  def rollingReach(events: DataFrame, windowDays: Int,
      dayTicks: Long = NsPerDay): DataFrame = {
    require(windowDays >= 1, "windowDays must be at least 1")
    require(dayTicks > 0, "dayTicks must be positive")
    // `div` is exact int64 division — a double round-trip would round
    // epoch-ns values (>2^53) and could shift a day boundary
    events
      .select(col("user_id"),
        expr(s"CAST(ts AS BIGINT) div $dayTicks").as("d"))
      .distinct()
      .select(col("user_id"),
        explode(expr(s"sequence(d, d + ${windowDays - 1})")).as("day_index"))
      .distinct()
      .groupBy("day_index")
      .agg(count(lit(1)).as(s"reach_${windowDays}d"))
  }

  /**
   * Interval attribution join: EVERY `refType` event of the same user
   * within `(probe.ts − horizon, probe.ts]` is paired with the probe —
   * multi-touch attribution ("all clicks inside the 24h window before
   * this purchase"), where [[lastPriorEvent]] keeps only the latest one.
   * `horizon` is in the same unit as the `ts` column (ns from
   * [[read]]); output rows carry both event ids, both timestamps, and
   * the lag.
   *
   * Scale shape: ONE equi-join keyed on user_id with the time band as a
   * join filter — per-user work is the per-user probe×ref cross
   * bounded by the horizon's event density, which is the inherent
   * output size of a many-to-many attribution (unlike as-of, a window
   * function cannot produce it without the same expansion). No
   * time-inequality-only join anywhere: the planner gets a proper
   * equi-key, so this is a shuffle-hash/sort-merge join, never a
   * nested loop (PlanAuditSpec pins that).
   *
   * Determinism: the pair set is an exact integer/timestamp predicate —
   * no floats, no ordering sensitivity.
   */
  def clickAttribution(events: DataFrame, probeType: String,
      refType: String, horizon: Long): DataFrame = {
    require(probeType != refType, "probe and reference types must differ")
    require(horizon > 0, "horizon must be positive")
    val p = events.where(col("event_type") === probeType)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
    val c = events.where(col("event_type") === refType)
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") > col("p_ts") - lit(horizon) &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("p_ts"), col("c_ts"), (col("p_ts") - col("c_ts")).as("lag"),
        col("purchase_value"))
  }

  /**
   * Backward as-of join within the event stream: each `probeType` event
   * is matched to the most recent `refType` event of the SAME user at or
   * before its timestamp — the temporal-enrichment primitive ("which
   * click preceded this purchase", "what was the last reading before
   * this alert").
   *
   * Implemented as a tagged union + one running `last(_, ignoreNulls)`
   * window per user: a single shuffle keyed by user_id and a linear scan
   * per user — the scale-safe Spark shape for as-of joins. A ts-range
   * join would plan a nested loop over each user's cross product, and a
   * per-probe lookup would be quadratic; the carried reference is a
   * single struct-valued window expression, so Catalyst plans ONE
   * WindowExec and the matched reference's fields stay atomic.
   *
   * Determinism at ties: at equal timestamps the reference sorts before
   * the probe (an equal-ts reference IS visible), and among equal-ts
   * references the larger event_id wins. Probes with no prior reference
   * carry NULL ref columns (left-join semantics); filter
   * `ref_event_id IS NOT NULL` for the inner form.
   */
  def lastPriorEvent(events: DataFrame, probeType: String, refType: String): DataFrame = {
    require(probeType != refType, "probe and reference types must differ")
    val tagged = events
      .where(col("event_type").isin(probeType, refType))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === probeType, 1).otherwise(0).as("is_probe"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_probe"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the reference rides as ONE struct through a single running-last:
    // three independent ignoreNulls windows could stitch fields from
    // DIFFERENT references when a reference's value is NULL (id/ts from
    // the latest ref, value from an older one) — the struct keeps the
    // matched reference atomic, and one window expression is also the
    // single-WindowExec plan
    val ref: Column = last(
      when(col("is_probe") === 0,
        struct(col("event_id"), col("ts"), col("value"))),
      ignoreNulls = true).over(w)
    tagged
      .select(col("*"), ref.as("ref"))
      .where(col("is_probe") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("ref.event_id").as("ref_event_id"),
        (col("ts") - col("ref.ts")).as("lag_ns"),
        col("ref.value").as("ref_value"))
  }

  /**
   * Per-event rolling-window features: for every event, the count and
   * value-sum of the SAME user's events in the trailing window
   * `[ts - span, ts]` (inclusive both ends) — the standard
   * feature-engineering primitive ("how active was this user in the hour
   * before this event"). `span` is in `ts` units (epoch-nanosecond longs
   * here, so the default is one hour of nanoseconds).
   *
   * Scale shape: ONE value-based range window per user — a single
   * shuffle keyed by user_id, then a linear two-pointer scan per user
   * inside WindowExec (both aggregates share the frame, so Catalyst
   * plans one window node). This is the shape that survives 100 TB: no
   * self-join on a time inequality (which would plan a per-user cross
   * product), no explode of the window contents. Determinism: the frame
   * is value-based, so equal-ts rows see identical frames regardless of
   * within-partition order.
   */
  def rolling(events: DataFrame, span: Long = NsPerHour): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"))
      .rangeBetween(-span, 0)
    events.select(
      col("event_id"), col("user_id"), col("ts"),
      count(lit(1)).over(w).as("n_window"),
      sum(col("value")).over(w).as("sum_window"))
  }

  /**
   * Ordered funnel analysis: for each user, the earliest time each step of
   * `steps` was reached, where step i+1 only counts events AT OR AFTER the
   * matched step-i event (non-strict ordering — a same-timestamp later
   * step still completes, which is the standard funnel convention and
   * keeps the result independent of within-timestamp event order). Output
   * is one row per user with `t1..tn` (the matched per-step timestamps,
   * NULL once the funnel broke) and `depth`, the number of steps reached.
   * Users with no event of any step type produce no row.
   *
   * Scale shape: filter to the step types, then ONE exchange keyed by
   * user_id feeding `n` chained full-frame window aggregates (step i+1's
   * conditional min refers to step i's matched time, so the windows
   * cannot fuse into one WindowExec, but they all share the user_id
   * partitioning — Catalyst plans a single shuffle and no sorts, since
   * full-frame min needs no ordering), then a per-user dedup aggregate
   * on the same key. No self-joins on time inequalities (which would plan
   * per-user cross products), no per-step join cascade (which would
   * shuffle n times).
   */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "steps must be non-empty and distinct")
    val w = Window.partitionBy("user_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val base = events
      .where(col("event_type").isin(steps: _*))
      .select(col("user_id"), col("ts"), col("event_type"))
    val stepped = steps.zipWithIndex.foldLeft(base) { case (df, (s, i)) =>
      val hit =
        if (i == 0) when(col("event_type") === s, col("ts"))
        else when(col("event_type") === s && col("ts") >= col(s"t$i"), col("ts"))
      df.withColumn(s"t${i + 1}", min(hit).over(w))
    }
    val tCols = steps.indices.map(i => s"t${i + 1}")
    stepped
      .groupBy("user_id")
      // the t_i are per-user constants after the windows; max() is the
      // null-skipping dedup aggregate
      .agg(max(col(tCols.head)).as(tCols.head),
        tCols.tail.map(c => max(col(c)).as(c)): _*)
      .withColumn("depth",
        tCols.map(c => when(col(c).isNotNull, 1L).otherwise(0L)).reduce(_ + _))
  }

  /**
   * Cohort retention analysis: users are grouped into cohorts by the
   * time bucket of their FIRST event, and each (cohort, offset) cell
   * counts the distinct cohort members active `offset` buckets after
   * their cohort bucket — the classic retention triangle read along its
   * diagonals ("of the users who arrived on day X, how many were still
   * active on day X+k"). `bucketNs` is the cohort/activity grain in `ts`
   * units (epoch-nanosecond longs here; default one day).
   *
   * Scale shape: one per-user min-aggregate (map-side partial), one
   * equi-join back on user_id — both shuffles share the user_id key, so
   * Catalyst plans a single exchange per side — then one count-distinct
   * aggregate keyed (cohort, offset), whose input is already deduplicated
   * to (user, bucket) pairs. Output is at most cohorts × offsets cells;
   * nothing is quadratic and no driver action exists.
   */
  def retention(events: DataFrame, bucketNs: Long = NsPerDay): DataFrame = {
    require(bucketNs > 0)
    val b = events.select(col("user_id"), expr(s"ts div $bucketNs").as("bucket"))
    val first = b.groupBy("user_id").agg(min(col("bucket")).as("cohort"))
    b.join(first, "user_id")
      .groupBy(col("cohort"), (col("bucket") - col("cohort")).as("bucket_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /**
   * Per-user profile features — the one-row-per-user table a churn /
   * engagement model trains on: event count, gap-based session count,
   * distinct active days, distinct event types, first/last activity, and
   * value total. The session count uses the same gap rule as
   * [[sessionize]] (a session starts when the gap since the user's
   * previous event exceeds `gapNs`), so `n_sessions` here always equals
   * that operator's per-user session count.
   *
   * Scale shape: one lag window and one aggregate, both keyed user_id —
   * Catalyst plans a single hash exchange feeding both (the window's
   * required distribution subsumes the groupBy's). Distinct-count state
   * per user is bounded by active-days × types, not events.
   */
  def userProfile(events: DataFrame, gapNs: Long = DefaultGapNs,
      bucketNs: Long = NsPerDay): DataFrame = {
    require(gapNs > 0 && bucketNs > 0)
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev", lag("ts", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("ts") - col("prev") > gapNs, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum("new_sess").as("n_sessions"),
        countDistinct(expr(s"ts div $bucketNs")).as("n_active_days"),
        countDistinct(col("event_type")).as("n_types"),
        expr(s"min(ts) div $NsPerSec").as("first_sec"),
        expr(s"max(ts) div $NsPerSec").as("last_sec"),
        sum(col("value")).as("sum_value"))
  }

  /**
   * Per-user bot / automation signals: event volume, type diversity
   * (count + Shannon entropy over the event-type distribution), the count
   * of "fast" inter-arrival gaps (< `fastGapNs` since the user's previous
   * event of ANY type), activity span, and an integer-exact bot flag —
   * fired when the user is high-volume (`n >= minEvents`) AND at least
   * `fastNum/fastDen` of their gaps are fast. The flag deliberately uses
   * only int64 compares (`n_fast·fastDen >= (n−1)·fastNum`), never the
   * double entropy, so it can never flip on cross-engine ulp noise; the
   * entropy rides along as a ranked signal for downstream thresholds.
   *
   * Scale: ONE exchange total. The lag window hash-partitions by user_id;
   * both downstream aggregates — (user_id, event_type) counts, then the
   * per-user rollup — are clustering-satisfied by that same partitioning
   * (HashPartitioning(user) ⊆ ClusteredDistribution(user, type)), so
   * Catalyst plans no further shuffle, and per-user state is bounded by
   * the type-alphabet size.
   */
  def botScores(events: DataFrame, fastGapNs: Long = NsPerHour,
      minEvents: Long = 30L, fastNum: Long = 1L, fastDen: Long = 4L): DataFrame = {
    require(fastGapNs > 0 && minEvents > 0 && fastNum > 0 && fastDen > 0)
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val n = sum(col("c"))
    val nFast = sum(col("n_fast_t"))
    events
      .withColumn("gap", col("ts") - lag("ts", 1).over(byUser))
      .groupBy("user_id", "event_type")
      .agg(
        count(lit(1)).as("c"),
        sum(when(col("gap").isNotNull && col("gap") < fastGapNs, 1L)
          .otherwise(0L)).as("n_fast_t"),
        min("ts").as("min_t"),
        max("ts").as("max_t"))
      .groupBy("user_id")
      .agg(
        n.as("n_events"),
        count(lit(1)).as("n_types"),
        nFast.as("n_fast"),
        expr(s"(max(max_t) - min(min_t)) div $NsPerSec").as("span_sec"),
        (log(n.cast("double")) -
          sum(col("c").cast("double") * log(col("c").cast("double"))) / n)
          .as("type_entropy"),
        when(n >= minEvents && nFast * fastDen >= (n - lit(1L)) * fastNum, 1L)
          .otherwise(0L).as("is_bot"))
  }

  /**
   * Seasonality-ADJUSTED hourly anomaly: each (type, hour) volume scored
   * against the distribution of its OWN calendar cell — the same (type,
   * day-of-week, hour-of-day) slot across the weeks — instead of
   * [[hourlyAnomaly]]'s global per-type distribution, which flags every
   * ordinary weekday peak. The z statistic is kept engine-exact: with
   * k cell samples, s1 = Σn and s2 = Σn², population z reduces to
   * `(k·n − s1) / sqrt(k·s2 − s1²)` — integer numerator, one correctly-
   * rounded sqrt of an exact int64, one division. Zero-variance cells
   * score 0. Hours with no events are absent (the [[hourly]] contract);
   * at ≥ a few weeks of history every live cell has samples.
   *
   * Scale: the hourly rollup is the one event-sized aggregate; cell
   * stats are ≤ types×168 rows joined back onto the hour-sized frame.
   */
  def seasonalAnomaly(events: DataFrame): DataFrame =
    seasonalScore(seasonalHours(hourly(events)),
      seasonalCellStats(events))

  /** Calendar-cell columns over an hourly count frame (batch or a
    * watermark-finalized hourly stream — the expression is row-local). */
  def seasonalHours(hourCounts: DataFrame): DataFrame =
    hourCounts
      .select(col("hour_start_sec"), col("event_type"), col("n_events"))
      .withColumn("dow", expr("((hour_start_sec div 86400) + 3) % 7"))
      .withColumn("hod", expr("(hour_start_sec div 3600) % 24"))

  /** The (type, dow, hod) cell moments [[seasonalAnomaly]] scores
    * against — ≤ types×168 rows; the FIT half of the monitor, reusable
    * as the static side of the streaming scorer
    * ([[graft.streaming.EventsStream.seasonalScores]]). */
  def seasonalCellStats(events: DataFrame): DataFrame =
    seasonalHours(hourly(events))
      .groupBy("event_type", "dow", "hod")
      .agg(count(lit(1)).as("k"), sum("n_events").as("s1"),
        sum(col("n_events") * col("n_events")).as("s2"))

  /** The engine-exact z join: (k·n − s1) / sqrt(k·s2 − s1²). */
  def seasonalScore(hours: DataFrame, cellStats: DataFrame): DataFrame = {
    val varTerm = col("k") * col("s2") - col("s1") * col("s1")
    hours
      .join(broadcast(cellStats), Seq("event_type", "dow", "hod"))
      .select(col("hour_start_sec"), col("event_type"), col("n_events"),
        col("dow"), col("hod"), col("k"),
        when(varTerm === 0L, 0.0)
          .otherwise((col("k") * col("n_events") - col("s1")).cast("double") /
            sqrt(varTerm.cast("double"))).as("z"))
  }

  /**
   * Top-k users by event volume per event type — spelled with the
   * bounded-heap [[graft.functions.TopKAgg]] typed Aggregator instead of
   * the `row_number() OVER (... ORDER BY n DESC)` window: the window
   * SORTS every group's full row set to keep k rows of it, the
   * aggregator keeps O(k) state with map-side partials and no sort of
   * group contents at any cardinality. Plan-pinned (TopKAggSpec): zero
   * Sort / Window operators, and the PARTIAL top-k runs before the
   * type-keyed exchange, so that exchange moves only k-bounded buffers
   * per partition — the (type, user) counts never travel again.
   *
   * When to pick which (measured, see [[graft.ext.Embeddings]]'s rank):
   * the window's codegen-fed sorter has the better CONSTANT — it wins
   * wall-clock whenever group contents fit a sort buffer — while the
   * aggregator's O(k) state is the MEMORY bound: it cannot spill-sort a
   * mega-group because it never holds one. Use it where a group is a
   * whole key's fan-in (here: all users of a type) rather than an
   * already-bounded candidate list.
   *
   * Ties break (n DESC, user_id ASC) — int64-exact, engine-reproducible.
   */
  def topUsersPerType(events: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val topk = org.apache.spark.sql.functions.udaf(new graft.functions.TopKAgg(k))
    events
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(topk(col("n"), col("user_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("r", "pair")))
      .select(col("event_type"), (col("r") + 1).cast("long").as("rank"),
        col("pair")(1).as("user_id"), col("pair")(0).as("n_events"))
  }

  /**
   * Calendar seasonality profile: event volume and distinct-user reach
   * per (day-of-week, hour-of-day) cell — the weekly heatmap an ops /
   * capacity review reads, and the denominator a seasonality-aware
   * anomaly monitor normalizes by (hourlyAnomaly z-scores against the
   * type's GLOBAL distribution; this is the calendar-conditional one).
   * `dow` is 0 = Monday (epoch day 0, 1970-01-01, was a Thursday — the
   * `+ 3` aligns it), pure int64 `div`/`%` arithmetic, no timezone or
   * calendar library on either engine. `share` divides by the one-row
   * total via a window over the ≤168-row aggregate — cell-bounded, the
   * quantileNormalize argument, never the event stream.
   */
  def seasonality(events: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    events
      .select(
        expr(s"((ts div $NsPerDay) + 3) % 7").as("dow"),
        expr(s"(ts div $NsPerHour) % 24").as("hod"),
        col("user_id"))
      .groupBy("dow", "hod")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("share",
        col("n_events").cast("double") / sum("n_events").over(all))
  }

  /**
   * Gap-based sessionization: a new session starts when a user's gap since
   * their previous event exceeds `gapNs`. Session ids number 1..n per user
   * in time order. One row per session with its span and value total.
   */
  def sessionize(events: DataFrame, gapNs: Long = DefaultGapNs): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val numbered = events
      .withColumn("prev", lag("ts", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("ts") - col("prev") > gapNs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    numbered
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        expr(s"min(ts) div $NsPerSec").as("start_sec"),
        expr(s"max(ts) div $NsPerSec").as("end_sec"),
        sum(col("value")).as("sum_value"))
  }

  /**
   * Session concurrency — an INTERVAL OVERLAP self-join, the join shape
   * Spark has no native operator for (a naive `a.start ≤ b.end AND
   * b.start ≤ a.end` self-join is a nested-loop over all pairs):
   * for every [[sessionize]] session, how many OTHER sessions overlap it
   * in time — the live-concurrency readout capacity planning reads.
   * Expressed scalably as the standard time-bucket decomposition: each
   * session explodes to the fixed-width buckets it touches (bounded by
   * span/bucket + 1), candidates come from ONE bucket-keyed equi-join,
   * and the exact overlap predicate rides that join as a post-filter
   * (the [[graft.core.CosineAnalysis]] aligned-pairs trick applied to
   * time). A pair co-occupying several buckets is deduplicated before
   * counting, so each overlap counts exactly once.
   *
   * Scale shape: work = Σ_buckets occupancy² — `bucketSec` is the knob
   * (width ≈ median session span keeps the explode factor ~2 while
   * bounding per-bucket candidates); at 100 TB the bucket key is also
   * the natural partition key, so candidates never cross executors. All
   * counts exact int64; zero-overlap sessions keep their row.
   */
  def concurrentSessions(events: DataFrame, gapNs: Long = DefaultGapNs,
      bucketSec: Long = 3600L): DataFrame = {
    require(bucketSec > 0)
    val sess = sessionize(events, gapNs)
      .select(col("user_id"), col("session_id"), col("start_sec"), col("end_sec"))
    val b = sess.withColumn("b",
      explode(expr(s"sequence(start_sec div $bucketSec, end_sec div $bucketSec)")))
    val pairs = b.as("a").join(b.as("c"),
        col("a.b") === col("c.b") &&
          (col("a.user_id") =!= col("c.user_id") ||
            col("a.session_id") =!= col("c.session_id")) &&
          col("a.start_sec") <= col("c.end_sec") &&
          col("c.start_sec") <= col("a.end_sec"))
      .select(col("a.user_id"), col("a.session_id"),
        col("c.user_id").as("u2"), col("c.session_id").as("s2"))
      .distinct()
    sess
      .join(pairs.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_concurrent")),
        Seq("user_id", "session_id"), "left")
      .na.fill(0L, Seq("n_concurrent"))
      .select(col("user_id"), col("session_id"), col("start_sec"),
        col("end_sec"), col("n_concurrent"))
  }

  /**
   * Kaplan–Meier user-lifetime survival curve (Kaplan & Meier 1958) —
   * the churn readout [[retention]]'s cohort triangle doesn't give:
   * S(t) = P(user stays active ≥ t days), estimated with proper RIGHT
   * CENSORING. A user's lifetime is `last_day − first_day`; users whose
   * last activity falls within `censorBuckets` of the corpus end are
   * censored (still plausibly active — their true lifetime is only known
   * to be ≥ t), exit the risk set without counting as churn, and make
   * the estimate unbiased where the naive "fraction with lifetime ≥ t"
   * curve systematically under-survives. One row per distinct exit time:
   * the risk-set size, deaths, censored exits, and
   * S(t) = Π_{s ≤ t} (1 − d_s/n_s).
   *
   * Determinism: day indices, lifetimes, risk sets and exit counts are
   * exact int64; the KM product is folded as exp(Σ ln(1 − d/n)) over the
   * WINDOW-ORDERED exit times — a sequential fixed-order fold in both
   * engines (per-term libm ulps sit far under the gate snap) — with a
   * cumulative extinction flag pinning S = 0 exactly from the first
   * d = n row (Spark's ln(0) is NULL, DuckDB's −inf; neither spelling is
   * allowed to matter).
   *
   * Scale shape: one user-keyed min/max aggregate (map-side partials),
   * one 1-row corpus-end broadcast, one lifetime-keyed aggregate that
   * collapses users to the EXIT-TIME table, then windows bounded by
   * distinct lifetimes — the quantile-histogram argument; never a
   * per-user sort, nothing driver-side.
   */
  def survivalCurve(events: DataFrame, bucketNs: Long = NsPerDay,
      censorBuckets: Long = 7L): DataFrame = {
    require(bucketNs > 0 && censorBuckets >= 0)
    val days = events.select(col("user_id"), expr(s"ts div $bucketNs").as("day"))
    val users = days.groupBy("user_id")
      .agg(min(col("day")).as("first"), max(col("day")).as("last"))
    val end = days.agg(max(col("day")).as("end_day"))
    val u = users.crossJoin(broadcast(end))
      .select((col("last") - col("first")).as("t"),
        when(col("last") > col("end_day") - lit(censorBuckets), 1L)
          .otherwise(0L).as("cen"))
    val exits = u.groupBy("t")
      .agg(sum(lit(1L) - col("cen")).as("d"), sum(col("cen")).as("c"))
    val tot = exits.agg(coalesce(sum(col("d") + col("c")), lit(0L)).as("n_users"))
    val before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val upTo = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = exits.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("n_users") - coalesce(sum(col("d") + col("c")).over(before), lit(0L)))
    val lnTerm = when(col("d") > 0 && col("d") < col("n_risk"),
      log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")))
      .otherwise(lit(0.0))
    risk
      .withColumn("ln_t", lnTerm)
      .withColumn("ln_cum", sum(col("ln_t")).over(upTo))
      .withColumn("dead",
        max(when(col("d") === col("n_risk"), 1L).otherwise(0L)).over(upTo))
      .select(col("t"), col("n_risk"), col("d").as("n_deaths"),
        col("c").as("n_censored"),
        when(col("dead") === 1L, lit(0.0)).otherwise(exp(col("ln_cum")))
          .as("survival"))
  }

  /**
   * Top-k most common `len`-step event paths — the sequence-mining step
   * past [[transitionMatrix]]'s first-order view: consecutive event-type
   * runs per user (ordered by the same (ts, event_id) total order),
   * joined into a `a>b>c` path string, counted corpus-wide, top-k by
   * (count DESC, path ASC) — exact integer ordering, so the cut is
   * engine-exact. Overlapping windows all count (every event starts a
   * path), the standard n-gram convention.
   *
   * Scale shape: ONE user-keyed window (len−1 leads share one frame —
   * a single exchange), a row-local concat, one path-keyed hash
   * aggregate with map-side partials, and a TakeOrdered top-k cut
   * (per-partition top-k, no global sort). Nothing is sequence-length
   * quadratic; the aggregate's key space is bounded by |types|^len.
   */
  def topPaths(events: DataFrame, len: Int = 3, k: Int = 20): DataFrame = {
    require(len >= 2, "a path needs at least 2 steps")
    require(k >= 1)
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val leads = col("event_type") +:
      (1 until len).map(i => lead(col("event_type"), i).over(byUser))
    val paths = events
      .select(concat_ws(">", leads: _*).as("path"),
        leads.last.isNotNull.as("complete"))
      .where(col("complete"))
    paths.groupBy("path").agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path").asc)
      .limit(k)
  }

  /**
   * Hash-randomized A/B readout with a two-proportion z-test: users are
   * deterministically assigned to variants by the export mix chain
   * ([[Export.mixBucket]] — the same auditable int64 arithmetic that
   * assigns splits, so a user's arm never flips between runs or
   * engines), conversion = the user emitted at least one `convType`
   * event, and the one-row summary carries both arms' user/converter
   * counts, rates, and the pooled-variance z statistic
   * `(p0 − p1) / sqrt(p̂(1−p̂)(1/n0 + 1/n1))` — the standard significance
   * readout an experimentation pipeline computes per metric.
   *
   * Determinism: counts are exact; rates and z are fixed IEEE op
   * sequences over exact integers (sqrt may differ by an ulp across
   * engines — inside the harness's 1e-6 snap). Degenerate arms (either
   * n = 0, or pooled rate 0 or 1 → zero variance) report z = 0 rather
   * than NaN, keeping the output NULL-free.
   *
   * Scale shape: ONE user-keyed aggregate (map-side partials collapse
   * each user's events) + a 1-row final aggregate — no joins at all;
   * the variant is a row-local pure function of the user id.
   *
   * User ids must be non-negative (the [[Export.splitAssign]]
   * convention — parquet surrogate ids are): the mix chain preserves
   * sign, so a negative id would land outside both arms here while the
   * streaming twin would emit it under variant −1. The precondition is
   * ENFORCED in-plan (a row-local assert, same codegen stage as the
   * variant hash) so batch and stream fail loudly instead of silently
   * diverging; an empty events table yields the all-zero one-row
   * summary, never NULLs.
   */
  def abTest(events: DataFrame, convType: String, salt: Long = 0L): DataFrame = {
    val perUser = events
      .withColumn("user_id",
        when(assert_true(col("user_id") >= 0,
          lit("abTest: negative user_id — ids must be non-negative")).isNull,
          col("user_id")))
      .groupBy("user_id")
      .agg(max(when(col("event_type") === convType, lit(1L)).otherwise(lit(0L)))
        .as("conv"))
      .withColumn("v", Export.mixBucket(col("user_id"), 2, salt))
    val one = perUser.agg(
      coalesce(sum(when(col("v") === 0, lit(1L)).otherwise(lit(0L))), lit(0L)).as("n0"),
      coalesce(sum(when(col("v") === 0, col("conv")).otherwise(lit(0L))), lit(0L)).as("c0"),
      coalesce(sum(when(col("v") === 1, lit(1L)).otherwise(lit(0L))), lit(0L)).as("n1"),
      coalesce(sum(when(col("v") === 1, col("conv")).otherwise(lit(0L))), lit(0L)).as("c1"))
    val p0 = col("c0").cast("double") / col("n0").cast("double")
    val p1 = col("c1").cast("double") / col("n1").cast("double")
    // the pooled rate is evaluated in the z guard's CONDITION, so its
    // denominator must be total even on an empty table (ANSI divide
    // raises on /0); c0+c1 = 0 there, so the clamped denominator still
    // yields p = 0 and the guard short-circuits z to 0
    val nt = col("n0") + col("n1")
    val p = (col("c0") + col("c1")).cast("double") /
      when(nt > 0, nt).otherwise(lit(1L)).cast("double")
    val se = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n0").cast("double") + lit(1.0) / col("n1").cast("double")))
    one.select(col("n0"), col("c0"), col("n1"), col("c1"),
      when(col("n0") > 0, p0).otherwise(lit(0.0)).as("rate0"),
      when(col("n1") > 0, p1).otherwise(lit(0.0)).as("rate1"),
      when(col("n0") > 0 && col("n1") > 0 && p > 0 && p < 1, (p0 - p1) / se)
        .otherwise(lit(0.0)).as("z"))
  }

  /**
   * CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker WSDM'13)
   * plus the sample-ratio-mismatch chi-square — the two standard guards a
   * production experimentation readout adds on top of [[abTest]]'s z:
   *
   *   - the experiment window splits at its own midpoint (`cut` =
   *     min_ts + (max_ts − min_ts)/2, exact int64): the PRE period
   *     supplies the covariate X = per-user event count, the POST period
   *     the metric Y = per-user `convType` count. θ = cov(X,Y)/var(X) is
   *     fitted POOLED (pre-period behaviour is independent of the arm, so
   *     pooling is unbiased and halves θ's own noise), and each arm's
   *     adjusted mean is `mean(Y_a) − θ·(mean(X_a) − mean(X))`. The
   *     emitted `var_y` / `var_adj` = var(Y) − θ²·var(X) pair measures the
   *     variance the covariate removed — the whole point of CUPED: the
   *     same experiment decides in var_adj/var_y of the traffic-days.
   *   - `srm_chi2` = (n0 − n1)²/(n0 + n1), the 1-df chi-square against
   *     the 50/50 design split — the assignment-pipeline tripwire that
   *     must be checked BEFORE believing any delta.
   *
   * Determinism: every aggregate is an exact int64 sum (X, Y are counts;
   * Σx, Σy, Σx², Σy², Σxy all fit — per-user counts are tiny next to the
   * 2⁶³ headroom, and the cross-moment numerators n·Σxy − Σx·Σy stay well
   * under 2⁶² for any corpus this library's int64 event counts fit);
   * θ and every mean are single exact-rational divisions; the few
   * remaining double ops are the same fixed-order IEEE sequence in any
   * engine, inside the gate snap. Degenerate cases (an empty arm,
   * var(X) = 0) report 0 rather than NULL/NaN.
   *
   * Scale shape: ONE 1-row min/max aggregate (the cut — an in-plan scalar
   * broadcast, no driver action), ONE user-keyed aggregate with map-side
   * partials collapsing each user's events to (x, y), and ONE 1-row
   * moment fold. No joins beyond the sanctioned 1-row cross; the arm is
   * row-local mix arithmetic. Identical exchange count to [[abTest]].
   */
  def abTestCuped(events: DataFrame, convType: String, salt: Long = 0L): DataFrame = {
    val bounds = events.agg(min(col("ts")).as("t_min"), max(col("ts")).as("t_max"))
      .select(expr("t_min + (t_max - t_min) div 2").as("cut"))
    val perUser = events
      .withColumn("user_id",
        when(assert_true(col("user_id") >= 0,
          lit("abTestCuped: negative user_id — ids must be non-negative")).isNull,
          col("user_id")))
      .crossJoin(broadcast(bounds))
      .groupBy("user_id")
      .agg(
        sum(when(col("ts") <= col("cut"), lit(1L)).otherwise(lit(0L))).as("x"),
        sum(when(col("ts") > col("cut") && col("event_type") === convType,
          lit(1L)).otherwise(lit(0L))).as("y"))
      .withColumn("v", Export.mixBucket(col("user_id"), 2, salt))
    val m = perUser.agg(
      coalesce(count(lit(1L)), lit(0L)).as("n"),
      coalesce(sum(col("x")), lit(0L)).as("sx"),
      coalesce(sum(col("y")), lit(0L)).as("sy"),
      coalesce(sum(col("x") * col("x")), lit(0L)).as("sxx"),
      coalesce(sum(col("y") * col("y")), lit(0L)).as("syy"),
      coalesce(sum(col("x") * col("y")), lit(0L)).as("sxy"),
      coalesce(sum(when(col("v") === 0, lit(1L)).otherwise(lit(0L))), lit(0L)).as("n0"),
      coalesce(sum(when(col("v") === 0, col("x")).otherwise(lit(0L))), lit(0L)).as("sx0"),
      coalesce(sum(when(col("v") === 0, col("y")).otherwise(lit(0L))), lit(0L)).as("sy0"),
      coalesce(sum(when(col("v") === 1, lit(1L)).otherwise(lit(0L))), lit(0L)).as("n1"),
      coalesce(sum(when(col("v") === 1, col("x")).otherwise(lit(0L))), lit(0L)).as("sx1"),
      coalesce(sum(when(col("v") === 1, col("y")).otherwise(lit(0L))), lit(0L)).as("sy1"))
    val nD = col("n").cast("double")
    // θ = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²): one exact int64 numerator and
    // denominator, one correctly-rounded division — bit-identical anywhere
    val covNum = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varXNum = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varYNum = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val theta = when(col("n") > 0 && varXNum > 0, covNum / varXNum)
      .otherwise(lit(0.0))
    val meanX = col("sx").cast("double") / nD
    def armMean(s: Column, cnt: Column) =
      when(cnt > 0, s.cast("double") / cnt.cast("double")).otherwise(lit(0.0))
    val my0 = armMean(col("sy0"), col("n0"))
    val my1 = armMean(col("sy1"), col("n1"))
    val adj0 = when(col("n0") > 0 && col("n") > 0,
      my0 - theta * (armMean(col("sx0"), col("n0")) - meanX)).otherwise(lit(0.0))
    val adj1 = when(col("n1") > 0 && col("n") > 0,
      my1 - theta * (armMean(col("sx1"), col("n1")) - meanX)).otherwise(lit(0.0))
    val varY = when(col("n") > 0, varYNum / (nD * nD)).otherwise(lit(0.0))
    val varX = when(col("n") > 0, varXNum / (nD * nD)).otherwise(lit(0.0))
    m.select(
      col("n0"), col("n1"),
      my0.as("mean_y0"), my1.as("mean_y1"),
      theta.as("theta"),
      adj0.as("adj_mean_y0"), adj1.as("adj_mean_y1"),
      (my1 - my0).as("diff"),
      (adj1 - adj0).as("adj_diff"),
      varY.as("var_y"),
      (varY - theta * theta * varX).as("var_adj"),
      when(col("n0") + col("n1") > 0,
        ((col("n0") - col("n1")) * (col("n0") - col("n1"))).cast("double")
          / (col("n0") + col("n1")).cast("double"))
        .otherwise(lit(0.0)).as("srm_chi2"))
  }

  /**
   * Audience-overlap audit via HyperLogLog register UNION — the sketch
   * set-operation the single-group audits don't exercise: for every
   * unordered event-type pair, the HLL estimates of |users(A)|,
   * |users(B)| and |A ∪ B| (register-wise max merge — the ONE set
   * operation HLL supports exactly: the union's sketch IS the merge of
   * the sketches, no approximation stacking), the inclusion–exclusion
   * intersection estimate `est0 + est1 − est_union` (clamped at 0), the
   * exact intersection, and the relative error. This is how a 100 TB
   * deployment answers "how many users do campaigns A and B share"
   * without ever joining the raw user sets — each side collapses to 64
   * registers no matter how many users it saw, and merges are
   * associative across partitions, days, and datacenters.
   *
   * Scale shape: ONE (type, user) distinct collapse (the only
   * event-sized exchange), a (type, register) max aggregate (≤ 64 rows
   * per type), then everything downstream is types²-sized. The exact
   * intersection — a user-keyed self-join — exists FOR the audit, same
   * contract as [[graft.ext.TextAnalysis.hllVocabAudit]]; production at
   * scale runs the sketches alone. The type-pair frame is a
   * types²-sized literal cross of a ≤types-row aggregate — the
   * sanctioned tiny-broadcast shape, never data-sized.
   */
  def reachOverlap(events: DataFrame): DataFrame = {
    import TextAnalysis.{HllM, hllH2Sql, hllRhoSql}
    val du = events.select(col("event_type").as("t"), col("user_id").as("u"))
      .distinct()
    val regs = du
      .select(col("t"), expr(hllH2Sql("u")).as("h2"))
      .select(col("t"), expr(s"CAST(h2 % $HllM AS BIGINT)").as("j"),
        expr(hllRhoSql(s"CAST((h2 - h2 % $HllM) / $HllM AS BIGINT)")).as("rho"))
      .groupBy("t", "j").agg(max(col("rho")).as("mj"))
    val exact = PairSurface.pairs(du, Seq("u"), "t")
      .groupBy(col("a.t").as("t0"), col("b.t").as("t1"))
      .agg(count(lit(1)).as("n_exact"))
    reachOverlapEstimates(regs)
      .join(exact, Seq("t0", "t1"), "left")
      .select(col("t0"), col("t1"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("est0"), col("est1"), col("est_union"), col("est_inter"),
        when(col("n_exact") > 0,
          (col("est_inter") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"))
          .otherwise(lit(0.0)).as("rel_err"))
  }

  /**
   * The sketch-only face of [[reachOverlap]], factored so ANY register
   * table works — the batch derivation above, or a SNAPSHOT of the
   * streaming register sink ([[graft.streaming.EventsStream
   * .hourlyUniquesHll]] after a max-merge across its hour windows:
   * register maxes are associative, so the all-hours merge per (type, j)
   * IS the sketch of each type's full user set). `regs` is (t, j, mj);
   * output is (t0, t1, est0, est1, est_union, est_inter) per unordered
   * type pair — no raw data, no exact column, types²-sized throughout.
   */
  def reachOverlapEstimates(regs: DataFrame): DataFrame = {
    import TextAnalysis.hllEstimateFromRegisters
    val single = hllEstimateFromRegisters(regs, Seq("t"))
      .select(col("t"), col("hll_est"))
    val types = regs.select("t").distinct()
    val pairs = PairSurface.pairs(types, Nil, "t")
      .select(col("a.t").as("t0"), col("b.t").as("t1"))
    val uniRegs = pairs
      .select(col("t0"), col("t1"),
        explode(array(col("t0"), col("t1"))).as("t"))
      .join(regs, "t")
      .groupBy("t0", "t1", "j").agg(max(col("mj")).as("mj"))
    val uni = hllEstimateFromRegisters(uniRegs, Seq("t0", "t1"))
      .select(col("t0"), col("t1"), col("hll_est").as("est_union"))
    pairs
      .join(single.select(col("t").as("t0"), col("hll_est").as("est0")), "t0")
      .join(single.select(col("t").as("t1"), col("hll_est").as("est1")), "t1")
      .join(uni, Seq("t0", "t1"))
      .select(col("t0"), col("t1"),
        col("est0"), col("est1"), col("est_union"),
        greatest(lit(0.0),
          col("est0") + col("est1") - col("est_union")).as("est_inter"))
  }

  /**
   * First-order event-type transition matrix (the Markov-chain view of
   * user behavior): for every consecutive (prev → next) pair within a
   * user's time-ordered stream, the pair count and the row-normalized
   * transition probability P(next | prev). A user's last event emits a
   * terminal transition to `"(end)"`, so each row of the matrix sums to
   * exactly 1 and session-final behavior is visible.
   *
   * Determinism: equal-ts events order by event_id (the same total order
   * every other per-user window operator here uses); the probability is
   * one division of two exact int64 counts.
   *
   * Scale shape: ONE exchange keyed by user_id feeds the `lead` window
   * (per-user fan-in is the user's event count — the same bound
   * sessionize already carries); the (prev, next) aggregate is
   * types²-sized with map-side partials, and the row normalization is a
   * window over that types²-row result — never over the event stream.
   */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val byPrev = Window.partitionBy("prev_type")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type",
        coalesce(lead("event_type", 1).over(byUser), lit("(end)")))
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("prob",
        col("n_transitions").cast("double") /
          sum("n_transitions").over(byPrev).cast("double"))
  }
}
