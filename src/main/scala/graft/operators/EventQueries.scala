package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Q
import graft.sources.Tables

/** Event-stream operators over the `events` table, in their batch form.
  * The same transformations run under Structured Streaming in
  * [[graft.streaming.EventStreams]] (readStream + watermark); batch and
  * stream share the plan, so the DuckDB oracle on the batch form also
  * validates the streaming logic.
  *
  * Timestamps are emitted as formatted strings so the oracle compare is
  * independent of parquet timestamp physical encodings (µs-UTC vs
  * naive-ns).
  */
object EventQueries {

  private def fmt(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Monotone suffix for the chain rows' memory-sink names — two
    * concurrent invocations in one session (bench racing verify) must
    * not collide on a fixed queryName (round-12 advice). */
  private val chainRunId = new java.util.concurrent.atomic.AtomicLong()

  /** Deposit the OPERATOR cost of a just-finished chain-harness run:
    * the sum of the streaming query's per-batch `triggerExecution`
    * durations — the time Spark spent executing the monitored stateful
    * query, excluding the MemoryStream feed (driver collect + addData)
    * that [[graft.StreamOpTiming]]'s scaladoc explains is harness, not
    * plan. Bench reports this for the chain rows. */
  private def recordChainSeconds(name: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ms = q.recentProgress.iterator.flatMap(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.longValue)).sum
    graft.StreamOpTiming.record(name, ms / 1e3)
  }

  /** Tumbling-window aggregate (1 hour): the watermark+window shape. */
  private def hourlyEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(fmt(col("w.start")).as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("hour_start", "event_type")

  /** Sessionization with a 30-minute inactivity gap — the batch
    * equivalent of flatMapGroupsWithState session windows: lag() to
    * mark session starts, running sum to number them. */
  /** The 30-minute-gap session-id assignment, shared by
    * [[sessionize]] and [[bounceRate]] so the session rule cannot
    * drift between them (the funnelTimes pattern). */
  private def withSessionIds(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_s",
        when(unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("sid", sum("new_s").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def sessionize(s: SparkSession, d: String): DataFrame =
    withSessionIds(Tables.events(s, d))
      .groupBy("user_id", "sid")
      .agg(
        count(lit(1)).as("n_events"),
        fmt(min(col("ts"))).as("session_start"),
        fmt(max(col("ts"))).as("session_end"),
        round(sum("value"), 2).as("session_value"))
      .orderBy("user_id", "sid")

  /** Bounce rate per day — share of sessions with exactly one event
    * (fixed-point ppm, integer floor division): the product-health
    * metric every session table feeds. Reuses [[withSessionIds]]'s
    * exact gap rule; the per-day rollup is a bounded final
    * aggregate. */
  def bounceRateOf(ev: DataFrame): DataFrame =
    withSessionIds(ev)
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("start_ts"))
      .groupBy(date_format(col("start_ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"))
      .withColumn("bounce_ppm",
        expr("n_bounce * cast(1000000 as bigint) div n_sessions"))
      .orderBy("day")

  private def bounceRate(s: SparkSession, d: String): DataFrame =
    bounceRateOf(Tables.events(s, d))

  private val bounceRateSql =
    "WITH x AS (SELECT user_id, event_id, ts, " +
    "epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap " +
    "FROM events), " +
    "y AS (SELECT user_id, ts, CAST(sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) OVER " +
    "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid " +
    "FROM x), " +
    "sess AS (SELECT user_id, sid, count(*) AS n_events, min(ts) AS start_ts " +
    "FROM y GROUP BY 1, 2) " +
    "SELECT strftime(start_ts, '%Y-%m-%d') AS day, count(*) AS n_sessions, " +
    "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce, " +
    "(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS bounce_ppm " +
    "FROM sess GROUP BY 1 ORDER BY 1"

  /** CUSUM drift detection over the hourly series — the
    * change-point monitor that catches a sustained small shift a
    * per-hour threshold rule misses. The clamped fold
    * S_t = max(0, S_{t−1} + (x_t − μ₀ − k)) is not a window function,
    * but its closed form IS: S_t = P_t − min(0, min_{i≤t} P_i) with
    * P the running sum of deviations — two per-key window passes, no
    * stateful fold needed (the identity a distributed engine wants).
    * Everything is exact integers scaled by 2n₀: baseline = each
    * type's first 168 hours (n₀ hours, Σ=S₀), deviation
    * d' = 2n₀·x − 3S₀ (allowance k = μ₀/2), threshold h = 4μ₀ →
    * 8S₀ in scaled units. Output: per-type max CUSUM statistic +
    * drift verdict (the fixture is stationary, so the spec drives a
    * synthetic shifted series through this SAME core for the
    * flagged branch). */
  def cusumStats(hourly: DataFrame): DataFrame = {
    val weekUs = 604800000000L
    val base = hourly.groupBy("event_type").agg(min("hour_us").as("h0"))
    val withBase = hourly.join(base, "event_type")
    val bl = withBase.filter(col("hour_us") < col("h0") + lit(weekUs))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n0"), sum("cnt").as("s0"))
    val w = Window.partitionBy("event_type").orderBy("hour_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withBase.filter(col("hour_us") >= col("h0") + lit(weekUs))
      .join(bl, "event_type")
      .withColumn("d", lit(2L) * col("n0") * col("cnt") - lit(3L) * col("s0"))
      .withColumn("p", sum("d").over(w))
      .withColumn("stat", col("p") - least(lit(0L), min("p").over(w)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test_hours"), max("stat").as("max_cusum"),
        (max("stat") > lit(8L) * max("s0")).as("drifted"))
      .orderBy("event_type")
  }

  private def cusumDrift(s: SparkSession, d: String): DataFrame =
    cusumStats(Tables.events(s, d)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("cnt")))

  private val cusumDriftSql =
    "WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us, " +
    "count(*) AS cnt FROM events GROUP BY 1, 2), " +
    "base AS (SELECT event_type, min(hour_us) AS h0 FROM h GROUP BY 1), " +
    "bl AS (SELECT h.event_type, count(*) AS n0, sum(cnt) AS s0 " +
    "FROM h JOIN base USING (event_type) WHERE hour_us < h0 + 604800000000 GROUP BY 1), " +
    "t AS (SELECT h.event_type, hour_us, 2 * n0 * cnt - 3 * s0 AS d, s0 " +
    "FROM h JOIN base USING (event_type) JOIN bl USING (event_type) " +
    "WHERE hour_us >= h0 + 604800000000), " +
    "ps AS (SELECT event_type, s0, hour_us, " +
    "sum(d) OVER (PARTITION BY event_type ORDER BY hour_us " +
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p FROM t), " +
    "st AS (SELECT event_type, s0, p - least(CAST(0 AS BIGINT), " +
    "min(p) OVER (PARTITION BY event_type ORDER BY hour_us " +
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS stat FROM ps) " +
    "SELECT event_type, count(*) AS n_test_hours, CAST(max(stat) AS BIGINT) AS max_cusum, " +
    "(max(stat) > 8 * max(s0)) AS drifted " +
    "FROM st GROUP BY 1 ORDER BY 1"

  /** Time-to-convert: per first-view-day cohort, the median minutes
    * from a user's FIRST view to their FIRST purchase — the canonical
    * conversion-latency rollup. Per-user firsts are conditional-min
    * hash aggregates (one pass, no window, no self-join); the median
    * uses the exact 2×-scaled-integer interpolation trick from
    * `q_mad_anomaly` (midpoints of integer minutes double to
    * integers), so the statistic is hash-stable cross-engine. */
  private def timeToConvert(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("us"))).as("v0"),
        min(when(col("event_type") === "purchase", col("us"))).as("p0"))
      .filter(col("v0").isNotNull && col("p0").isNotNull &&
        col("p0") > col("v0"))
      .select(date_format(timestamp_micros(col("v0")), "yyyy-MM-dd")
          .as("cohort"),
        expr("(p0 - v0) div 60000000").as("mins"))
      .groupBy("cohort")
      .agg(count(lit(1)).as("n_converted"),
        (expr("percentile(mins, 0.5)") * 2).cast("long").as("med2_mins"))
      .orderBy("cohort")

  private val timeToConvertSql =
    "WITH f AS (SELECT user_id, " +
    "min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v0, " +
    "min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p0 " +
    "FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1), " +
    "c AS (SELECT strftime(make_timestamp(v0), '%Y-%m-%d') AS cohort, " +
    "(p0 - v0) // 60000000 AS mins FROM f " +
    "WHERE v0 IS NOT NULL AND p0 IS NOT NULL AND p0 > v0) " +
    "SELECT cohort, count(*) AS n_converted, " +
    "CAST(quantile_cont(mins, 0.5) * 2 AS BIGINT) AS med2_mins " +
    "FROM c GROUP BY 1 ORDER BY 1"

  /** Sessionization via Spark's built-in `session_window` (gap-merged
    * session aggregation — the form that also runs under Structured
    * Streaming with state cleanup). Same 30-minute gap rule as
    * [[sessionize]]; session_end is reported as max(ts) (the built-in
    * window's `end` is last-ts + gap, which the oracle can't express
    * portably). */
  private def sessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        fmt(min(col("ts"))).as("session_start"),
        fmt(max(col("ts"))).as("session_end"),
        round(sum("value"), 2).as("session_value"))
      .select("user_id", "session_start", "session_end", "n_events", "session_value")
      .orderBy("user_id", "session_start")

  /** Click→purchase conversion join: every purchase within 30 minutes
    * after a click by the same user — the batch twin of the
    * stream-stream interval join ([[graft.streaming.EventStreams
    * .clickPurchaseJoin]]); the shared build (filter + equi key + time
    * bound) is what Structured Streaming turns into watermarked
    * symmetric hash-join state. */
  private def clickPurchaseJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        fmt(col("click_ts")).as("click_ts"),
        fmt(col("purchase_ts")).as("purchase_ts"),
        round(col("value"), 2).as("purchase_value"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** Click→purchase conversion with the NO-conversion rows — the
    * batch twin of the stream-stream LEFT OUTER interval join
    * ([[graft.streaming.EventStreams.clickPurchaseLeftOuter]], round-13
    * verdict item 5): every click appears, matched purchases attached,
    * unmatched clicks with null purchase columns (the rows the
    * streaming form emits on watermark eviction). Same shared build as
    * `q_click_purchase_join`; NULL ordering pinned explicitly on both
    * engines (Spark defaults nulls-first ASC, DuckDB nulls-last). */
  private def clickPurchaseOuter(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "left")
      .select(col("user_id"), col("click_id"),
        fmt(col("click_ts")).as("click_ts"),
        col("purchase_id"), round(col("value"), 2).as("purchase_value"))
      .orderBy(col("user_id"), col("click_id"),
        col("purchase_id").asc_nulls_first)
  }

  /** Backward as-of join: each view event enriched with the user's
    * most recent prior (or simultaneous) purchase —
    * [[graft.query.AsOfJoin]]'s union+window composition (ONE shuffle,
    * no join operator), checked against DuckDB's native ASOF JOIN. */
  private def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value"))
    graft.query.AsOfJoin
      .backward(views, purchases, "user_id", "v_ts", "p_ts")
      .filter(col("purchase_id").isNotNull)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        fmt(col("v_ts")).as("view_ts"),
        round(col("value"), 2).as("last_purchase_value"))
      .orderBy("user_id", "view_id")
  }

  /** Sliding-window aggregate: 1-hour windows every 15 minutes — each
    * event contributes to 4 overlapping windows (Spark expands the
    * slide inside the scan stage; the oracle mirrors it with an
    * explicit 0..3 unnest over 15-minute offsets). */
  private def slidingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(fmt(col("w.start")).as("win_start"), col("event_type"),
        col("n_events"))
      .orderBy("win_start", "event_type")

  /** Keyless time-range join: for every error event, aggregate ALL
    * events (any user) in the following 5 minutes — the error-blast-
    * radius query. With no equi key Spark would plan the naive theta
    * join as BroadcastNestedLoopJoin; [[graft.query.RangeJoin.binned]]
    * turns it into an equi join on 5-minute time bins with the exact
    * range predicate as a post-filter (`RangeJoinSpec` asserts the
    * plan is nested-loop-free and the result matches the naive join). */
  private def rangeJoinBinned(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("err_ts"))
    val all = ev.select(col("event_id").as("f_id"), col("ts").as("f_ts"),
      col("value"))
    graft.query.RangeJoin
      .binned(errors, all, "err_ts", "f_ts", lowerSec = 0, upperSec = 300,
        binSec = 300)
      .filter(col("f_id") =!= col("err_id"))
      .groupBy(col("err_id").as("event_id"))
      .agg(count(lit(1)).as("n_follow"),
        round(sum("value"), 2).as("follow_value"))
      .orderBy("event_id")
  }

  /** Count-Min sketch with an engine-exact oracle: d=4 hash rows ×
    * w=64 buckets built from the portable weighted-ascii-of-md5 hash,
    * probed for every event type next to its exact count — the
    * mergeable fixed-size frequency summary (update = map-side bucket
    * increments, merge = vector add: exactly a groupBy here). The
    * deterministic hash family means DuckDB reproduces the SAME
    * sketch, so even the approximation is hash-checked, and the
    * defining one-sided error (estimate ≥ exact) is visible in the
    * result. */
  private def cmsCounts(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def wsum(c: org.apache.spark.sql.Column) =
      (1 to 8).map(i => ascii(substring(c, i, 1)) * lit(i)).reduce(_ + _)
    def bucket(j: Int, v: org.apache.spark.sql.Column) =
      pmod(wsum(md5(concat(lit(j.toString), lit("|"), v))), lit(64))
    val buckets = (0 to 3).map { j =>
      ev.groupBy(bucket(j, col("event_type")).as("b"))
        .agg(count(lit(1)).as("n")).withColumn("j", lit(j))
    }.reduce(_ union _)
    val types = ev.groupBy("event_type").agg(count(lit(1)).as("exact_n"))
    val probes = (0 to 3).map { j =>
      types.select(col("event_type"), col("exact_n"), lit(j).as("j"),
        bucket(j, col("event_type")).as("b"))
    }.reduce(_ union _)
    probes.join(buckets, Seq("j", "b"))
      .groupBy("event_type", "exact_n")
      .agg(min("n").as("cms_est"))
      .orderBy("event_type")
  }

  /** Event-type rates per day — the monitoring rollup. */
  private def dailyTypeCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(fmt(date_trunc("day", col("ts"))).as("day"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"))
      .orderBy("day", "event_type")

  /** Cohort retention: users grouped by the day of their first event,
    * counted on each later active day — the canonical product-health
    * rollup. Scale shape: one (user_id, day) distinct + one groupBy
    * user_id for the cohort day, then a user_id-co-partitioned join
    * (AQE reuses the exchange) and a tiny (cohort × offset) final
    * aggregate; raw events collapse to (user_id, day) pairs in the
    * scan stage. */
  private def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firstDay = ud.groupBy("user_id").agg(min("day").as("cohort"))
    ud.join(firstDay, "user_id")
      .groupBy(
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "day_offset")
  }

  /** Z-order layout assignment — the OPTIMIZE ZORDER shape a 100 TB
    * table needs for multi-column pruning: each event's (user_id,
    * hour) coordinate pair maps to a Morton z-value (8+8-bit
    * interleave, pure integer bit arithmetic in one scan-stage
    * expression) and a 256-way bucket from the z-prefix. The output
    * is the ZONE MAP the layout would produce — per-bucket row counts
    * plus BOTH dimensions' min/max, each provably confined to a
    * 16-wide slice of its 256-value range (`RuleBatterySpec` pins the
    * bound) — demonstrating that z-bucketing bounds every dimension
    * at once where a single-column sort bounds only its own. Writing
    * would be `repartitionByRange($"z")`; the math here is the part
    * worth oracle-checking. */
  private def zorderLayout(s: SparkSession, d: String): DataFrame = {
    graft.functions.BitFunctions.register(s)
    Tables.events(s, d)
      .select(
        col("user_id").bitwiseAND(lit(255L)).as("a"),
        expr("unix_timestamp(date_trunc('hour', ts)) div 3600")
          .bitwiseAND(lit(255L)).as("b"))
      // the codegen'd MortonInterleave expression replaces the
      // aggregate(sequence(...)) HOF form — same bits, no per-row
      // index-array allocation (BitFunctionsSpec pins equivalence)
      .select(col("a"), col("b"),
        graft.functions.BitFunctions.morton(col("a"), col("b"), 8).as("z"))
      .groupBy(expr("shiftright(z, 8)").cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min("a").as("min_user"), max("a").as("max_user"),
        min("b").as("min_hour"), max("b").as("max_hour"))
      .orderBy("bucket")
  }

  /** Ordered 3-step funnel (view → click → purchase): users whose
    * first click follows their first view, and first purchase follows
    * that click. Each step is a type-pushed-down scan + a
    * user_id-co-partitioned join with the previous step's frontier
    * (AQE reuses the exchange), so the funnel is 3 narrow stages —
    * never a per-user event-list sort. `q_click_purchase_join` is the
    * pairwise interval join; THIS is the ordered multi-step rollup. */
  /** The funnel rule, shared by `q_funnel_steps` and
    * `q_funnel_watermarked` (so the two gate rows cannot drift): per
    * user, t1 = earliest view, t2 = earliest click strictly after t1,
    * t3 = earliest purchase strictly after t2 — three type-pushed-down
    * scans chained by user_id-co-partitioned joins, never a per-user
    * event-list sort. Returns the three per-user step tables. */
  private def funnelTimes(ev: DataFrame, tsCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(tsCol).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col(tsCol) > col("t1"))
      .groupBy("user_id").agg(min(tsCol).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col(tsCol) > col("t2"))
      .groupBy("user_id").agg(min(tsCol).as("t3"))
    (t1, t2, t3)
  }

  private def funnelSteps(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val (t1, t2, t3) = funnelTimes(ev, "ts")
    t1.agg(count(lit(1)).as("n_users"))
      .select(lit(1).as("step"), lit("view").as("event_type"), col("n_users"))
      .unionByName(t2.agg(count(lit(1)).as("n_users"))
        .select(lit(2).as("step"), lit("click").as("event_type"), col("n_users")))
      .unionByName(t3.agg(count(lit(1)).as("n_users"))
        .select(lit(3).as("step"), lit("purchase").as("event_type"), col("n_users")))
      .orderBy("step")
  }

  /** The watermark-bounded funnel's batch twin
    * ([[graft.streaming.EventStreams.funnelStreamWatermarked]]'s
    * documented equivalence: emitted hits = the batch funnel over the
    * ON-TIME subset), under the oracle gate. The arrival schedule is
    * simulated deterministically — event e arrives at
    * `ts + (event_id mod 4) · 5 min` (a bounded network delay), and
    * the watermark trails the running max ARRIVED event time by 60 s —
    * so "late" (dropped) is `ts < max(ts of events arrived before e) −
    * 60 s`, exactly the rule a one-event-per-micro-batch stream
    * enforces (`WatermarkGateSpec` pins the stream/batch parity on a
    * driven subset). Output: late-dropped event count (step 0) + the
    * 3 funnel step counts over the surviving events.
    *
    * Scale note: the arrival simulation's running max is a GLOBAL
    * ordered window — inherently sequential because it models a single
    * stream's clock; the funnel over the on-time subset is the
    * distributed part (per-user hash aggregates, same shape as
    * [[funnelSteps]]). A real deployment gets the late-classification
    * from the engine's watermark, not from this window. */
  private def funnelWatermarked(s: SparkSession, d: String): DataFrame = {
    val delayUs = 60000000L
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("arrival_us",
        col("ts_us") + (col("event_id") % 4) * 300000000L)
    val arrivalW = Window.orderBy("arrival_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val flagged = ev.withColumn("wm", max("ts_us").over(arrivalW) - delayUs)
    val onTime = flagged.filter(col("wm").isNull || col("ts_us") >= col("wm"))
    val (t1, t2, t3) = funnelTimes(onTime, "ts_us")
    flagged.filter(col("wm").isNotNull && col("ts_us") < col("wm"))
      .agg(count(lit(1)).as("n"))
      .select(lit(0).as("step"), col("n"))
      .unionByName(t1.agg(count(lit(1)).as("n")).select(lit(1).as("step"), col("n")))
      .unionByName(t2.agg(count(lit(1)).as("n")).select(lit(2).as("step"), col("n")))
      .unionByName(t3.agg(count(lit(1)).as("n")).select(lit(3).as("step"), col("n")))
      .orderBy("step")
  }

  private val funnelWatermarkedSql =
    "WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, " +
    "epoch_us(ts) + (event_id % 4) * 300000000 AS arrival_us FROM events), " +
    "w AS (SELECT *, max(ts_us) OVER (ORDER BY arrival_us, event_id " +
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 60000000 AS wm FROM e), " +
    "ot AS (SELECT * FROM w WHERE wm IS NULL OR ts_us >= wm), " +
    "t1 AS (SELECT user_id, min(ts_us) AS t1 FROM ot " +
    "WHERE event_type = 'view' GROUP BY 1), " +
    "t2 AS (SELECT o.user_id, min(o.ts_us) AS t2 FROM ot o JOIN t1 USING (user_id) " +
    "WHERE o.event_type = 'click' AND o.ts_us > t1.t1 GROUP BY 1), " +
    "t3 AS (SELECT o.user_id, min(o.ts_us) AS t3 FROM ot o JOIN t2 USING (user_id) " +
    "WHERE o.event_type = 'purchase' AND o.ts_us > t2.t2 GROUP BY 1) " +
    "SELECT 0 AS step, (SELECT count(*) FROM w WHERE wm IS NOT NULL AND ts_us < wm) AS n " +
    "UNION ALL SELECT 1, (SELECT count(*) FROM t1) " +
    "UNION ALL SELECT 2, (SELECT count(*) FROM t2) " +
    "UNION ALL SELECT 3, (SELECT count(*) FROM t3) " +
    "ORDER BY step"

  /** JSON property extraction from the `props` column — the
    * semi-structured-payload operator a pipeline engine needs (absent
    * from the reference; north-star surface). */
  private def jsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("k")

  /** Time-series gap fill + hourly resample: the dense
    * (hour × event_type) grid with zero-filled counts and a
    * forward-filled last-known value — the shape every downstream
    * window/anomaly job needs, because a bare groupBy silently DROPS
    * empty cells ("no data this hour" is a fact, not an absence). The
    * hour spine is `sequence(min_hour, max_hour)` exploded from a
    * 1-row bounds aggregate; the type dimension joins in as a bounded
    * broadcast (both allowlisted BNLJ shapes — the grid is
    * hours × |keys|, never data × data). The fill metric is EXACT
    * integer cents (`round(value·100)` cast long): a float running
    * aggregate drifts with summation order across engines, integer
    * sums are order-free and hash-stable (the `q_pmi_bigrams`
    * lesson). The forward fill is `last(ignoreNulls)` over a per-type
    * time window — partitioned by the series key, so at 100 TB each
    * series sorts independently (one spine per key, no global-order
    * window barrier). */
  private def gapFill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("ts"), col("event_type").as("et"), col("value"))
    // ONE scan of the fact table: the spine bounds and the type
    // dimension both derive from the (hours × |keys|)-sized hourly
    // aggregate, which is materialized once (a lineage cut) — the
    // earlier form re-scanned 100 TB of events three times for two
    // tiny frames (round-11 review finding)
    val agg = graft.query.Checkpoints.cut(
      ev.groupBy(date_trunc("hour", col("ts")).as("h"), col("et"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("cents")))
    val bounds = agg.agg(min("h").as("h0"), max("h").as("h1"))
    val hrs = bounds.select(explode(
      sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    val typ = agg.select("et").distinct()
    val w = Window.partitionBy("et").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hrs.crossJoin(broadcast(typ))
      .join(agg, Seq("h", "et"), "left")
      .select(fmt(col("h")).as("hour"), col("et").as("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("cents"), lit(0L)).as("value_cents"),
        coalesce(last(col("cents"), ignoreNulls = true).over(w), lit(0L))
          .as("filled_cents"))
      .orderBy("hour", "event_type")
  }

  /** Interval union (gaps-and-islands): each event opens a 30-minute
    * interval; overlapping/touching intervals per user merge into
    * islands, reported as per-user counts and covered time. The
    * island rule is the running-max-end formulation (an interval
    * starts a new island iff its start exceeds the max end of ALL
    * earlier intervals — lag(end) alone is wrong when a long interval
    * swallows several short ones). Everything is integer µs, so the
    * running max and the island sums are bit-stable across engines.
    * Windows are partitioned by user — at 100 TB every user sorts
    * independently; there is no global-order barrier. */
  private def intervalMerge(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("st"), col("en"))
    val iv = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) + 1800L * 1000000L).as("en"))
      .withColumn("pmax",
        max("en").over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pmax").isNull || col("st") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum("ni").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    iv.groupBy("user_id", "island")
      .agg(min("st").as("ist"), max("en").as("ien"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("ien") - col("ist")).as("covered_us"),
        max(col("ien") - col("ist")).as("longest_us"))
      .orderBy("user_id")
  }

  /** Hourly-count anomaly flags per event type, 2σ both sides — in
    * EXACT integer arithmetic: |cnt − μ| > 2σ is algebraically
    * (n·cnt − S)² > 4·(n·SS − S²) with S = Σcnt, SS = Σcnt² over the
    * type's hours, which never materializes a float (σ needs a sqrt,
    * μ a division — both cross-engine hash traps; the squared form is
    * pure BIGINT and overflow-safe at gate scale: n ≤ 10³, cnt ≤ 10⁶
    * keeps every product under 10¹⁸). Plan: one hourly hash
    * aggregate, one per-type moment aggregate (5 rows → broadcast
    * join back), one filter — at 100 TB the moments are a second-pass
    * partial aggregate over the already-reduced hourly table. */
  private def anomalyZscore(s: SparkSession, d: String): DataFrame = {
    val hc = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val st = hc.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cnt").as("s"),
        sum(col("cnt") * col("cnt")).as("ss"))
    val dev = col("n") * col("cnt") - col("s")
    hc.join(broadcast(st), "event_type")
      .filter(dev * dev > lit(4L) * (col("n") * col("ss") - col("s") * col("s")))
      .select(col("event_type"), fmt(col("h")).as("hour"), col("cnt"),
        when(dev > 0, lit("high")).otherwise(lit("low")).as("side"))
      .orderBy("event_type", "hour")
  }

  /** Prequential anomaly detection — the streaming-shaped twin of
    * [[anomalyZscore]]: each hour is tested against the moments of
    * hours strictly BEFORE it (per type, event-time order, n ≥ 8
    * warmup), so no verdict ever uses the future — exactly what a
    * live monitor can compute, and exactly the fold
    * [[graft.streaming.EventStreams.anomalyStream]] keeps as 3-long
    * streaming state ((n, S, SS) per key; `StreamingSpec` pins
    * stream ≡ batch). Same exact-integer algebra as the global
    * variant; the prefix moments are per-key windows — every type's
    * history scans independently at scale. */
  private def anomalyPrequential(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hc = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val dev = col("n") * col("cnt") - col("s")
    hc.select(col("event_type"), col("h"), col("cnt"),
        count(lit(1)).over(w).as("n"),
        coalesce(sum("cnt").over(w), lit(0L)).as("s"),
        coalesce(sum(col("cnt") * col("cnt")).over(w), lit(0L)).as("ss"))
      .filter(col("n") >= 8 &&
        dev * dev > lit(4L) * (col("n") * col("ss") - col("s") * col("s")))
      .select(col("event_type"), fmt(col("h")).as("hour"), col("cnt"),
        when(dev > 0, lit("high")).otherwise(lit("low")).as("side"))
      .orderBy("event_type", "hour")
  }

  /** The COMPOSED streaming monitor under the oracle gate
    * ([[graft.streaming.EventStreams.hourlyAnomalyChain]], round-11
    * verdict item 5): raw events → watermarked hourly windows →
    * closed-in-order → prequential verdicts, run HERE as a real
    * Structured Streaming query over a MemoryStream replay of the
    * events table (event-time-ordered chunks + a flush sentinel 3 h
    * past the corpus so every real hour closes). Emitted hits are
    * hash-checked against the SAME DuckDB oracle as
    * `q_anomaly_prequential` — the composed chain must reproduce the
    * batch row bit-for-bit, which is the stream ≡ batch contract at
    * gate strength (the mid-run-restart variant is `StreamingSpec`'s).
    * The driver-side collect feeds the HARNESS (a memory stream needs
    * its data on the driver); the operator under test is the
    * distributed stateful query. */
  private def anomalyChain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val evs = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("tsUs"))
      .orderBy("tsUs", "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val in = MemoryStream[(String, Long)](s)
    val stream = graft.streaming.EventStreams.hourlyAnomalyChain(
      in.toDF().select(col("_1").as("event_type"),
        timestamp_micros(col("_2")).as("ts")))
    // per-run unique sink name (round-12 advice): a fixed queryName
    // fails with "query with that name is already active" when bench
    // races verify in one session — the same race the per-appId sink
    // paths already guard against
    val sink = s"graft_anomaly_chain_${chainRunId.incrementAndGet()}"
    val q = stream.writeStream.format("memory")
      .queryName(sink).outputMode("append").start()
    try {
      evs.grouped(evs.length / 3 + 1).foreach { c =>
        in.addData(c.toIndexedSeq); q.processAllAvailable()
      }
      in.addData(("~flush", evs.last._2 + 3L * 3600000000L))
      q.processAllAvailable()
      recordChainSeconds("q_anomaly_chain", q)
    } finally q.stop()
    val out = s.table(sink)
      .select(col("event_type"),
        date_format(timestamp_micros(col("hourUs")), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        col("cnt"), col("side"))
      .orderBy("event_type", "hour")
    // drop the per-run view NOW (round-13 advice: a long session —
    // bench warmup + runs + extras across scale points — accumulated
    // unbounded memory-sink views holding result rows on the driver).
    // `table()` analyzed the plan eagerly, so `out` keeps executing
    // against the resolved sink relation after the name is gone.
    s.catalog.dropTempView(sink)
    out
  }

  /** The composed CUSUM monitor under the gate
    * ([[graft.streaming.EventStreams.hourlyCusumChain]]): the same
    * fused events → watermarked-hourly-windows → closed-in-order
    * stream as `q_anomaly_chain`, but the monitor LEARNS its baseline
    * online (each type's first calendar week of closed hours) and
    * then folds the clamped CUSUM — no pre-trained constants. The
    * emitted per-hour hits aggregate to exactly the batch
    * `q_cusum_drift` summary (count / max stat / drift verdict), and
    * the row hash-checks against that SAME oracle — composed stream ≡
    * batch at gate strength, for the second monitor shape. */
  private def cusumChain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val evs = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("tsUs"))
      .orderBy("tsUs", "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val in = MemoryStream[(String, Long)](s)
    val stream = graft.streaming.EventStreams.hourlyCusumChain(
      in.toDF().select(col("_1").as("event_type"),
        timestamp_micros(col("_2")).as("ts")))
    val sink = s"graft_cusum_chain_${chainRunId.incrementAndGet()}"
    val q = stream.writeStream.format("memory")
      .queryName(sink).outputMode("append").start()
    try {
      evs.grouped(evs.length / 3 + 1).foreach { c =>
        in.addData(c.toIndexedSeq); q.processAllAvailable()
      }
      in.addData(("~flush", evs.last._2 + 3L * 3600000000L))
      q.processAllAvailable()
      recordChainSeconds("q_cusum_chain", q)
    } finally q.stop()
    val out = s.table(sink)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test_hours"), max("stat").as("max_cusum"),
        max("drifted").as("drifted"))
      .orderBy("event_type")
    // per-run view dropped once resolved (see anomalyChain)
    s.catalog.dropTempView(sink)
    out
  }

  /** First-order Markov transition matrix of user behavior: for each
    * user's event sequence (ts, event_id order), count (state → next
    * state) transitions and report the row-normalized probability in
    * fixed-point parts-per-million (integer `div` — bit-identical in
    * both engines; a float ratio would re-fight the signed-zero/
    * last-bit war). The lead() window is partitioned by user (scales
    * per-key); the 5×5 transition table aggregates partially
    * map-side; the row-total join is a broadcast of ≤ |states| rows. */
  private def transitionMatrix(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead("from_type", 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n_trans"))
    val tot = tr.groupBy("from_type").agg(sum("n_trans").as("tot"))
    tr.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n_trans"),
        expr("CAST((n_trans * 1000000) div tot AS LONG)").as("prob_ppm"))
      .orderBy("from_type", "to_type")
  }

  /** Last-touch attribution: every purchase credits the most recent
    * click by the same user within a 24 h lookback, the marketing /
    * conversion-analysis shape. One per-user window pass: the running
    * `last(click ts, ignoreNulls)` in event-time order gives each
    * purchase its candidate touch; the 24 h rule decides attributed
    * vs organic. Per-day rollup with exact integer value cents.
    *
    * Scale: the window is partitioned by user_id — each user's
    * timeline is independent, so 10⁹ users spread across executors;
    * no global sort, no self-join (the naive form is
    * purchases ⋈ clicks per user, quadratic in events-per-user). */
  def attributionOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("last_click_us",
        last(when(col("event_type") === "click", col("ts_us")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed",
        col("last_click_us").isNotNull &&
          col("ts_us") - col("last_click_us") <= 86400000000L)
      .groupBy("day")
      .agg(
        sum(when(col("attributed"), 1L).otherwise(0L)).as("n_attributed"),
        sum(when(!col("attributed"), 1L).otherwise(0L)).as("n_organic"),
        sum(when(col("attributed"), col("cents")).otherwise(0L))
          .as("attributed_cents"))
      .orderBy("day")
  }

  private def attribution(s: SparkSession, d: String): DataFrame =
    attributionOf(Tables.events(s, d))

  private val attributionSql =
    "WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, " +
    "strftime(ts, '%Y-%m-%d') AS day, " +
    "CAST(round(value * 100) AS BIGINT) AS cents FROM events " +
    "WHERE event_type IN ('click', 'purchase')), " +
    "t AS (SELECT *, last_value(CASE WHEN event_type = 'click' THEN ts_us END " +
    "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us FROM e), " +
    "p AS (SELECT day, (last_click_us IS NOT NULL AND " +
    "ts_us - last_click_us <= 86400000000) AS attributed, cents " +
    "FROM t WHERE event_type = 'purchase') " +
    "SELECT day, CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed, " +
    "CAST(sum(CASE WHEN attributed THEN 0 ELSE 1 END) AS BIGINT) AS n_organic, " +
    "CAST(sum(CASE WHEN attributed THEN cents ELSE 0 END) AS BIGINT) AS attributed_cents " +
    "FROM p GROUP BY 1 ORDER BY 1"

  /** Frequent event-type trigrams (per-user time-ordered paths) — the
    * navigation-mining operator behind "what do users do before
    * converting". lead()/lead(2) over the per-user window pairs each
    * event with its two successors; the global count is a hash
    * aggregate over a 3-token key (≤ |types|³ groups, bounded), and
    * the top-10 is TakeOrderedAndProject — no global sort of the fact
    * table anywhere. */
  private def eventPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("t2", lead("event_type", 1).over(w))
      .withColumn("t3", lead("event_type", 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
        col("t3").as("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("step1"), col("step2"), col("step3"))
      .limit(10)
  }

  private val eventPathsSql =
    "WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us " +
    "FROM events), " +
    "t AS (SELECT event_type AS step1, " +
    "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS step2, " +
    "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS step3 " +
    "FROM e) " +
    "SELECT step1, step2, step3, count(*) AS n_paths FROM t " +
    "WHERE step3 IS NOT NULL GROUP BY 1, 2, 3 " +
    "ORDER BY n_paths DESC, step1, step2, step3 LIMIT 10"

  /** Trailing-7-day distinct users per day — the sliding COUNT DISTINCT
    * no window function computes (count distinct isn't decomposable
    * over overlapping frames). The scale trick: collapse events to
    * DISTINCT (day, user) first — the only data-sized stage, one hash
    * aggregate — then explode each pair to the ≤ 7 as-of days it
    * covers (a bounded ×7 blowup of the ALREADY-collapsed pairs, not
    * of raw events) and count distinct per as-of day. The join against
    * observed days keeps the spine data-defined; that side is bounded
    * by the calendar. */
  def rollingDistinctOf(ev: DataFrame): DataFrame = {
    val du = ev
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = du.select(col("day").as("as_of")).distinct()
    du.select(explode(sequence(col("day"), date_add(col("day"), 6)))
        .as("as_of"), col("user_id"))
      .join(days, "as_of")
      .groupBy("as_of")
      .agg(countDistinct("user_id").as("users_7d"))
      .select(date_format(col("as_of"), "yyyy-MM-dd").as("as_of"),
        col("users_7d"))
      .orderBy("as_of")
  }

  private def rollingDistinct(s: SparkSession, d: String): DataFrame =
    rollingDistinctOf(Tables.events(s, d))

  private val rollingDistinctSql =
    "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events), " +
    "days AS (SELECT DISTINCT day AS as_of FROM du), " +
    "cov AS (SELECT as_of, user_id FROM du JOIN days " +
    "ON as_of BETWEEN day AND day + 6) " +
    "SELECT strftime(as_of, '%Y-%m-%d') AS as_of, " +
    "count(DISTINCT user_id) AS users_7d FROM cov GROUP BY 1 ORDER BY 1"

  /** RFM segmentation (recency / frequency / monetary quintiles over
    * purchasing users) with TIE-STABLE quantile buckets: the textbook
    * `ntile(5)` assigns tied metric values to different buckets based
    * on sort order — nondeterministic across engines AND across
    * partitionings. Here bucket(v) = ⌊5·|{u : value(u) < v}| / n⌋ + 1
    * (strict rank), so equal values always share a bucket and the
    * whole statistic is exact integer arithmetic. The rank table is a
    * running sum over the VALUE HISTOGRAM (the skyline bucket-window
    * shape) — and each metric's histogram is genuinely VALUE-RANGE
    * bounded, not user-bounded: recency is days, frequency is a small
    * count, and monetary is bucketed to whole dollars before ranking
    * exactly so its histogram cannot degenerate to one row per user
    * (cent-level sums are near-unique). Joined back per metric; user
    * metrics themselves are one hash aggregate of the purchase
    * stream. Anchor = max purchase day (1-row broadcast). Output: the
    * 5×5×5-bounded segment histogram. */
  def rfmSegmentsOf(ev: DataFrame): DataFrame = {
    val p = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val anchor = p.agg(max(col("day")).as("anchor_day"))
    val u = p.groupBy("user_id")
      .agg(max("day").as("last_day"), count(lit(1)).as("f"),
        expr("sum(cents) div 100").as("m"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"),
        datediff(col("anchor_day"), col("last_day")).cast("long").as("r"),
        col("f"), col("m"))
    val nUsers = u.agg(count(lit(1)).as("n_users"))
    def bucket(df: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val hist = df.groupBy(col(v).as("v")).agg(count(lit(1)).as("c"))
        .withColumn("less", sum("c").over(w) - col("c"))
        .select(col("v").as(v), col("less").as(s"less_$out"))
      df.join(hist, v)
    }
    bucket(bucket(bucket(u, "r", "r"), "f", "f"), "m", "m")
      .crossJoin(broadcast(nUsers))
      .select(
        expr("less_r * 5 div n_users + 1").as("r_b"),
        expr("less_f * 5 div n_users + 1").as("f_b"),
        expr("less_m * 5 div n_users + 1").as("m_b"))
      .groupBy("r_b", "f_b", "m_b")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("r_b", "f_b", "m_b")
  }

  private def rfmSegments(s: SparkSession, d: String): DataFrame =
    rfmSegmentsOf(Tables.events(s, d))

  private val rfmSegmentsSql =
    "WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
    "CAST(round(value * 100) AS BIGINT) AS cents FROM events " +
    "WHERE event_type = 'purchase'), " +
    "anchor AS (SELECT max(day) AS anchor_day FROM p), " +
    "u AS (SELECT user_id, date_diff('day', max(day), (SELECT anchor_day FROM anchor)) AS r, " +
    "count(*) AS f, sum(cents) // 100 AS m FROM p GROUP BY 1), " +
    "n AS (SELECT count(*) AS nu FROM u), " +
    "hr AS (SELECT v, sum(c) OVER (ORDER BY v) - c AS less FROM " +
    "(SELECT r AS v, count(*) AS c FROM u GROUP BY 1)), " +
    "hf AS (SELECT v, sum(c) OVER (ORDER BY v) - c AS less FROM " +
    "(SELECT f AS v, count(*) AS c FROM u GROUP BY 1)), " +
    "hm AS (SELECT v, sum(c) OVER (ORDER BY v) - c AS less FROM " +
    "(SELECT m AS v, count(*) AS c FROM u GROUP BY 1)), " +
    "b AS (SELECT CAST((hr.less * 5) // nu + 1 AS BIGINT) AS r_b, " +
    "CAST((hf.less * 5) // nu + 1 AS BIGINT) AS f_b, " +
    "CAST((hm.less * 5) // nu + 1 AS BIGINT) AS m_b FROM u CROSS JOIN n " +
    "JOIN hr ON u.r = hr.v JOIN hf ON u.f = hf.v JOIN hm ON u.m = hm.v) " +
    "SELECT r_b, f_b, m_b, count(*) AS n_users FROM b " +
    "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"

  /** Robust (median/MAD) anomaly detection — the |x−μ|>kσ rule's
    * outlier-resistant twin: one extreme hour inflates σ enough to
    * mask its neighbors, while the median absolute deviation barely
    * moves. The cross-engine float trap is interpolated medians, so
    * everything lives in 2×-scaled EXACT integers: the midpoint of
    * two integers doubles to an integer, hence med2 = 2·median(cnt)
    * and mad2 = 2·median(|2·cnt − med2|) are exact longs (the
    * interpolated double a+b is exact in IEEE far below 2⁵³, and both
    * engines use the same p·(n−1) linear-interpolation quantile), and
    * the classic |cnt−med| > 3·MAD flag is the pure-integer
    * cross-multiplication 2·dev > 3·mad2 (dev = |2cnt−med2| =
    * 2|cnt−med|, mad2 = 4·MAD ⇒ dev/2 > 3·mad2/4 ⟺ 2·dev > 3·mad2).
    * Per-type medians aggregate a bounded (hours × types) table —
    * the fact stream crosses one exchange into the hourly rollup. */
  /** The MAD rule over any (event_type, hour_start, cnt) series table
    * — ONE definition shared by the gate row and the spec's synthetic
    * low-side drive (the fixture's Poisson-ish counts only ever flag
    * high, so the low branch gets its engine coverage from a
    * constructed series). */
  def madFlags(hourly: DataFrame): DataFrame = {
    val med = hourly.groupBy("event_type")
      .agg((expr("percentile(cnt, 0.5)") * 2).cast("long").as("med2"))
    val dev = hourly.join(med, "event_type")
      .withColumn("dev", abs(col("cnt") * 2 - col("med2")))
    val mad = dev.groupBy("event_type")
      .agg((expr("percentile(dev, 0.5)") * 2).cast("long").as("mad2"))
    dev.join(mad, "event_type")
      .filter(col("dev") * 2 > col("mad2") * 3)
      .select(col("event_type"), col("hour_start"), col("cnt"),
        when(col("cnt") * 2 > col("med2"), "high").otherwise("low")
          .as("side"))
      .orderBy("event_type", "hour_start")
  }

  private def madAnomaly(s: SparkSession, d: String): DataFrame =
    madFlags(Tables.events(s, d)
      .groupBy(col("event_type"),
        fmt(date_trunc("hour", col("ts"))).as("hour_start"))
      .agg(count(lit(1)).as("cnt")))

  private val madAnomalySql =
    "WITH h AS (SELECT event_type, strftime(date_trunc('hour', ts), " +
    "'%Y-%m-%d %H:%M:%S') AS hour_start, count(*) AS cnt FROM events GROUP BY 1, 2), " +
    "med AS (SELECT event_type, CAST(quantile_cont(cnt, 0.5) * 2 AS BIGINT) AS med2 " +
    "FROM h GROUP BY 1), " +
    "dv AS (SELECT h.event_type, h.hour_start, h.cnt, med.med2, " +
    "abs(h.cnt * 2 - med.med2) AS dev FROM h JOIN med USING (event_type)), " +
    "mad AS (SELECT event_type, CAST(quantile_cont(dev, 0.5) * 2 AS BIGINT) AS mad2 " +
    "FROM dv GROUP BY 1) " +
    "SELECT dv.event_type, dv.hour_start, dv.cnt, " +
    "CASE WHEN dv.cnt * 2 > dv.med2 THEN 'high' ELSE 'low' END AS side " +
    "FROM dv JOIN mad USING (event_type) WHERE dv.dev * 2 > mad.mad2 * 3 " +
    "ORDER BY 1, 2"

  /** A/B experiment significance — per first-day cohort, users split
    * into two deterministic arms (portable md5 hash — both engines
    * derive the SAME assignment, so even the randomization is
    * oracle-checked), "conversion" = the user purchased, and the
    * two-proportion z-test at α=0.05 evaluated ENTIRELY in integers:
    * z² > 1.96² ⟺ 625·(c₁n₂−c₂n₁)²·N > 2401·n₁n₂·C·(N−C)
    * (1.96² = 2401/625 EXACTLY — 96/25 = 3.84 would be slightly
    * liberal; cross-multiplied pooled-variance z; C = c₁+c₂,
    * N = n₁+n₂) — no
    * float proportion or sqrt ever exists, so the verdict is
    * bit-stable under any partitioning. Magnitudes: the worst-case
    * term 625·Δ²·N with |Δ| ≤ n₁n₂ ≤ (N/2)² is ~625·N⁵/16 — past
    * 2⁶³ at N ≈ 470 users/cohort, so the quintic products are
    * evaluated in 128-bit fixed point (Spark DECIMAL(38,0), DuckDB
    * HUGEINT; the inner Δ = c₁n₂−c₂n₁ stays BIGINT, safe to
    * N ≈ 3·10⁹), lifting the ceiling to N ≈ 2·10⁷ users/cohort —
    * a graceful headroom extension, not a cliff at A/B-test sizes
    * (round-11 advice). Beyond THAT both engines still fail loudly
    * (ANSI decimal overflow throws, HUGEINT overflow throws); the
    * next rung is dividing both sides by a shared gcd scale.
    * Per-user state is one hash aggregate; the cohort table is
    * bounded (days × 2 arms). */
  private def abSignificance(s: SparkSession, d: String): DataFrame = {
    def wsum(c: org.apache.spark.sql.Column) =
      (1 to 8).map(i => ascii(substring(c, i, 1)) * lit(i)).reduce(_ + _)
    val ev = Tables.events(s, d)
    val users = ev.groupBy("user_id")
      .agg(date_format(min(to_date(col("ts"))), "yyyy-MM-dd").as("cohort"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      .withColumn("arm",
        pmod(wsum(md5(concat(lit("ab|"), col("user_id")))), lit(2)))
    val arms = users.groupBy("cohort")
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("c_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("c_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    // the leading DECIMAL(38,0) literal promotes every subsequent
    // product to 128-bit BEFORE it can exceed 2⁶³; only the inner
    // Δ (≤ N²) is computed in BIGINT
    val big = lit(BigDecimal(1)).cast("decimal(38,0)")
    arms.select(col("cohort"), col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        (big * lit(625L) *
          (col("c_a") * col("n_b") - col("c_b") * col("n_a")) *
          (col("c_a") * col("n_b") - col("c_b") * col("n_a")) *
          (col("n_a") + col("n_b")) >
         big * lit(2401L) * col("n_a") * col("n_b") *
          (col("c_a") + col("c_b")) *
          (col("n_a") + col("n_b") - col("c_a") - col("c_b")))
          .as("significant"))
      .orderBy("cohort")
  }

  private val abSignificanceSql = {
    val wsum = (1 to 8).map(i =>
      s"ascii(substring(h, $i, 1)) * $i").mkString(" + ")
    "WITH u AS (SELECT user_id, strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS cohort, " +
    "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted " +
    "FROM events GROUP BY 1), " +
    "uh AS (SELECT cohort, converted, " +
    "md5('ab|' || CAST(user_id AS VARCHAR)) AS h FROM u), " +
    s"ua AS (SELECT cohort, converted, ($wsum) % 2 AS arm FROM uh), " +
    "arms AS (SELECT cohort, " +
    "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
    "CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_a, " +
    "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
    "CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_b " +
    "FROM ua GROUP BY 1 HAVING n_a > 0 AND n_b > 0) " +
    // CAST(... AS HUGEINT) leads each side so the quintic products run
    // in 128-bit, mirroring the Spark DECIMAL(38,0) promotion
    "SELECT cohort, n_a, c_a, n_b, c_b, " +
    "(CAST(625 AS HUGEINT) * (c_a * n_b - c_b * n_a) * (c_a * n_b - c_b * n_a) * (n_a + n_b) > " +
    "CAST(2401 AS HUGEINT) * n_a * n_b * (c_a + c_b) * (n_a + n_b - c_a - c_b)) AS significant " +
    "FROM arms ORDER BY cohort"
  }

  /** KMV sketch INTERSECTION (Beyer et al., SIGMOD'07): estimate
    * |viewers ∩ purchasers| from two k-min-value sketches without
    * ever joining the full sets — the sketch-algebra primitive behind
    * audience-overlap and join-size estimation at 100 TB (sketches
    * are k rows each; only they move). Same portable md5→(0,1] hash
    * as `q_kmv_distinct`, so both engines build bit-identical
    * sketches and even the ESTIMATE is hash-checked, next to the
    * exact overlap. Estimator: τ = k-th smallest of the union sketch,
    * K∩ = |{v ∈ both sketches : u(v) ≤ τ}|, est = K∩·(k_u−1)/(k_u·τ).
    * The per-set k-min is a per-type window over DISTINCT
    * (type, user) — the same shape as `q_kmv_distinct`; a production
    * run swaps it for the bounded-heap TopK aggregator. */
  private def kmvIntersect(s: SparkSession, d: String): DataFrame = {
    val k = 16
    def uh(c: org.apache.spark.sql.Column) =
      graft.functions.TextFunctions.unitHash(c.cast("string"))
    val du = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("user_id")).distinct()
    val exact = du.groupBy("user_id").agg(count(lit(1)).as("nt"))
      .filter(col("nt") === 2).agg(count(lit(1)).as("exact_common"))
    val withU = du.withColumn("u", uh(col("user_id")))
    val w = Window.partitionBy("event_type").orderBy("u", "user_id")
    val sk = withU.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select("event_type", "user_id", "u")
    val uniW = Window.orderBy("u", "user_id")
    val tau = sk.select("user_id", "u").distinct()
      .withColumn("rn", row_number().over(uniW)).filter(col("rn") <= k)
      .agg(max("u").as("tau"), count(lit(1)).as("k_u"))
    val a = sk.filter(col("event_type") === "view")
      .select(col("user_id"), col("u"))
    val b = sk.filter(col("event_type") === "purchase")
      .select(col("user_id").as("ub"))
    a.join(b, col("user_id") === col("ub"))
      .crossJoin(broadcast(tau))
      .filter(col("u") <= col("tau"))
      .agg(count(lit(1)).as("k_int"))
      .crossJoin(broadcast(tau))
      .crossJoin(broadcast(exact))
      .select(col("exact_common"), col("k_int"),
        round(col("k_int") * (col("k_u") - 1) / (col("k_u") * col("tau")), 1)
          .as("kmv_est"))
  }

  private val kmvIntersectSql =
    "WITH du AS (SELECT DISTINCT event_type, user_id FROM events " +
    "WHERE event_type IN ('view', 'purchase')), " +
    "ex AS (SELECT count(*) AS exact_common FROM " +
    "(SELECT user_id FROM du GROUP BY 1 HAVING count(*) = 2)), " +
    "wu AS (SELECT event_type, user_id, " +
    graft.functions.TextFunctions.unitHashSql("CAST(user_id AS VARCHAR)") +
    " AS u FROM du), " +
    "sk AS (SELECT event_type, user_id, u FROM " +
    "(SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY u, user_id) AS rn " +
    "FROM wu) WHERE rn <= 16), " +
    "tau AS (SELECT max(u) AS tau, count(*) AS k_u FROM " +
    "(SELECT user_id, u FROM (SELECT DISTINCT user_id, u FROM sk) t " +
    "QUALIFY row_number() OVER (ORDER BY u, user_id) <= 16)), " +
    "ki AS (SELECT count(*) AS k_int FROM sk a JOIN sk b " +
    "ON a.user_id = b.user_id AND a.event_type = 'view' AND b.event_type = 'purchase' " +
    "CROSS JOIN tau WHERE a.u <= tau.tau) " +
    "SELECT exact_common, k_int, " +
    "round(k_int * (k_u - 1) / (k_u * tau), 1) AS kmv_est " +
    "FROM ki CROSS JOIN tau CROSS JOIN ex"

  /** Lag-feature engineering over the hourly series — the
    * time-series featurizer every forecasting/anomaly model consumes:
    * lag-1, lag-24 (same hour yesterday) and the first difference,
    * each a `lag()` over the per-type window (one exchange on the
    * series key; Spark collapses all three onto a single per-key
    * sorted pass). Lags skip MISSING hours (they reference the
    * previous PRESENT row) — compose with `q_gap_fill`'s dense grid
    * upstream when calendar-exact lags are required; the raw form is
    * kept here so both semantics exist. Leading rows carry NULL lags
    * (a model drops or masks them) — the oracle reproduces the NULLs
    * exactly. */
  private def lagFeatures(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hour_us")
    Tables.events(s, d)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lag1", lag("cnt", 1).over(w))
      .withColumn("lag24", lag("cnt", 24).over(w))
      .withColumn("delta1", col("cnt") - col("lag1"))
      .select(col("event_type"),
        fmt(timestamp_micros(col("hour_us"))).as("hour_start"),
        col("cnt"), col("lag1"), col("lag24"), col("delta1"))
      .orderBy("event_type", "hour_start")
  }

  private val lagFeaturesSql =
    "WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, " +
    "count(*) AS cnt FROM events GROUP BY 1, 2), " +
    "f AS (SELECT event_type, hr, cnt, " +
    "lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY hr) AS lag1, " +
    "lag(cnt, 24) OVER (PARTITION BY event_type ORDER BY hr) AS lag24 " +
    "FROM h) " +
    "SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start, " +
    "cnt, lag1, lag24, cnt - lag1 AS delta1 " +
    "FROM f ORDER BY 1, 2"

  /** Decile lift / gains table — the ranking-model eval operator:
    * users scored by engagement (view count), bucketed into deciles
    * with the SAME tie-stable strict-rank rule as `q_rfm_segments`
    * (⌊10·rank/n⌋+1 — ntile's sort-order tie split would be
    * engine-nondeterministic), then per-decile conversion rate and
    * the top-down cumulative gain (share of ALL converters captured
    * from the best decile downward) in fixed-point ppm. The gain
    * cumsum is a window over the ≤10-row decile table — bounded;
    * the per-user score is one hash aggregate; the rank histogram is
    * value-range bounded (view counts). */
  private def decileLift(s: SparkSession, d: String): DataFrame = {
    val u = Tables.events(s, d)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val n = u.agg(count(lit(1)).as("n_users"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = u.groupBy("score").agg(count(lit(1)).as("c"))
      .withColumn("less", sum("c").over(w) - col("c"))
      .select(col("score"), col("less"))
    val deciles = u.join(hist, "score").crossJoin(broadcast(n))
      .select(expr("less * 10 div n_users + 1").as("decile"), col("conv"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
    val wTop = Window.orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = deciles.agg(sum("n_conv").as("total_conv"))
    deciles
      .withColumn("cum_conv", sum("n_conv").over(wTop))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_users"), col("n_conv"),
        expr("n_conv * cast(1000000 as bigint) div n_users").as("conv_ppm"),
        expr("cum_conv * cast(1000000 as bigint) div total_conv")
          .as("cum_gain_ppm"))
      .orderBy(col("decile").desc)
  }

  private val decileLiftSql =
    "WITH u AS (SELECT user_id, " +
    "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS score, " +
    "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv " +
    "FROM events GROUP BY 1), " +
    "n AS (SELECT count(*) AS n_users FROM u), " +
    "hist AS (SELECT score, sum(c) OVER (ORDER BY score) - c AS less FROM " +
    "(SELECT score, count(*) AS c FROM u GROUP BY 1)), " +
    "dd AS (SELECT CAST((less * 10) // n_users + 1 AS BIGINT) AS decile, conv " +
    "FROM u JOIN hist USING (score) CROSS JOIN n), " +
    "dec AS (SELECT decile, count(*) AS n_users, CAST(sum(conv) AS BIGINT) AS n_conv " +
    "FROM dd GROUP BY 1), " +
    "tot AS (SELECT sum(n_conv) AS total_conv FROM dec) " +
    "SELECT decile, n_users, n_conv, " +
    "CAST((n_conv * 1000000) // n_users AS BIGINT) AS conv_ppm, " +
    "CAST((sum(n_conv) OVER (ORDER BY decile DESC " +
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000) // total_conv AS BIGINT) AS cum_gain_ppm " +
    "FROM dec CROSS JOIN tot ORDER BY decile DESC"

  /** Stickiness (DAU / trailing-7-day actives, the product-health
    * ratio) in fixed-point ppm — composes [[rollingDistinctOf]]'s
    * trailing-window machinery with the per-day distinct count; both
    * sides collapse to DISTINCT (day, user) before anything else, so
    * raw events cross one exchange. */
  private def stickiness(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val dau = ev.select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("as_of"))
      .agg(countDistinct("user_id").as("dau"))
    rollingDistinctOf(ev).join(dau, "as_of")
      .select(col("as_of"), col("dau"), col("users_7d").as("wau7"),
        expr("dau * cast(1000000 as bigint) div wau7").as("stickiness_ppm"))
      .orderBy("as_of")
  }

  private val stickinessSql =
    "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events), " +
    "days AS (SELECT DISTINCT day AS as_of FROM du), " +
    "cov AS (SELECT as_of, user_id FROM du JOIN days " +
    "ON as_of BETWEEN day AND day + 6), " +
    "wau AS (SELECT as_of, count(DISTINCT user_id) AS wau7 FROM cov GROUP BY 1), " +
    "dau AS (SELECT day AS as_of, count(DISTINCT user_id) AS dau FROM du GROUP BY 1) " +
    "SELECT strftime(wau.as_of, '%Y-%m-%d') AS as_of, dau, wau7, " +
    "(dau * 1000000) // wau7 AS stickiness_ppm " +
    "FROM wau JOIN dau ON wau.as_of = dau.as_of ORDER BY 1"

  /** Hour-of-day seasonality profile per event type in fixed-point
    * ppm — the load-shape rollup behind capacity planning and the
    * baseline for any seasonal-adjustment step. One hash aggregate
    * over the bounded (type × 24) key space; the per-type total
    * joins back as a bounded broadcast (no window). */
  private def seasonality(s: SparkSession, d: String): DataFrame = {
    val byHod = Tables.events(s, d)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n_events"))
    val totals = byHod.groupBy("event_type")
      .agg(sum("n_events").as("total"))
    byHod.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("hod"), col("n_events"),
        expr("n_events * cast(1000000 as bigint) div total").as("share_ppm"))
      .orderBy("event_type", "hod")
  }

  private val seasonalitySql =
    "WITH h AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod, " +
    "count(*) AS n_events FROM events GROUP BY 1, 2), " +
    "t AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total FROM h GROUP BY 1) " +
    "SELECT h.event_type, hod, n_events, " +
    "(n_events * 1000000) // total AS share_ppm " +
    "FROM h JOIN t ON h.event_type = t.event_type ORDER BY 1, 2"

  /** First-touch attribution — [[attributionOf]]'s mirror: every
    * purchase credits the EARLIEST click inside the 24 h lookback
    * (campaign-discovery credit) instead of the latest, and the
    * rollup is keyed by the CREDITED TOUCH's day — the campaign-
    * facing view ("which day's clicks drove revenue"), where first-
    * and last-touch genuinely produce different tables (a purchase-
    * day rollup of attributed counts is model-invariant: attributed
    * ⟺ any in-window click, under either rule). The frame is a RANGE
    * window on the µs event time (`rangeBetween(−24 h, 0)`) — the
    * min-over-sliding-interval shape ROWS frames can't express;
    * still one per-user window pass, no self-join. */
  private def firstTouch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-86400000000L, 0)
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("first_click_us",
        min(when(col("event_type") === "click", col("ts_us"))).over(w))
      .filter(col("event_type") === "purchase" &&
        col("first_click_us").isNotNull)
      .groupBy(date_format(timestamp_micros(col("first_click_us")),
        "yyyy-MM-dd").as("touch_day"))
      .agg(count(lit(1)).as("n_conversions"),
        sum("cents").as("credited_cents"))
      .orderBy("touch_day")
  }

  private val firstTouchSql =
    "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, " +
    "CAST(round(value * 100) AS BIGINT) AS cents FROM events " +
    "WHERE event_type IN ('click', 'purchase')), " +
    "t AS (SELECT *, min(CASE WHEN event_type = 'click' THEN ts_us END) " +
    "OVER (PARTITION BY user_id ORDER BY ts_us " +
    "RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS first_click_us " +
    "FROM e) " +
    "SELECT strftime(make_timestamp(first_click_us), '%Y-%m-%d') AS touch_day, " +
    "count(*) AS n_conversions, " +
    "CAST(sum(cents) AS BIGINT) AS credited_cents " +
    "FROM t WHERE event_type = 'purchase' AND first_click_us IS NOT NULL " +
    "GROUP BY 1 ORDER BY 1"

  val all: Seq[Q] = Seq(
    Q("q_stickiness", stickiness, Some(stickinessSql)),
    Q("q_seasonality", seasonality, Some(seasonalitySql)),
    Q("q_first_touch", firstTouch, Some(firstTouchSql)),
    Q("q_lag_features", lagFeatures, Some(lagFeaturesSql)),
    Q("q_decile_lift", decileLift, Some(decileLiftSql)),
    Q("q_cusum_drift", cusumDrift, Some(cusumDriftSql)),
    Q("q_time_to_convert", timeToConvert, Some(timeToConvertSql)),
    Q("q_bounce_rate", bounceRate, Some(bounceRateSql)),
    Q("q_kmv_intersect", kmvIntersect, Some(kmvIntersectSql)),
    Q("q_mad_anomaly", madAnomaly, Some(madAnomalySql)),
    Q("q_ab_significance", abSignificance, Some(abSignificanceSql)),
    Q("q_rolling_distinct", rollingDistinct, Some(rollingDistinctSql)),
    Q("q_rfm_segments", rfmSegments, Some(rfmSegmentsSql)),
    Q("q_attribution", attribution, Some(attributionSql)),
    Q("q_event_paths", eventPaths, Some(eventPathsSql)),
    // TRY_CAST keeps the oracle's malformed-JSON behavior aligned with
    // Spark's get_json_object (null, not error)
    Q("q_json_extract", jsonExtract, Some(
      "SELECT CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS INT) AS k, count(*) AS n_events " +
      "FROM events GROUP BY 1 ORDER BY 1")),
    Q("q_hourly_events", hourlyEvents, Some(
      "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, event_type, " +
      "count(*) AS n_events, round(sum(value), 2) AS total_value " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
      headline = true),
    Q("q_sessionize", sessionize, Some(
      "WITH x AS (SELECT user_id, event_id, ts, value, " +
      "epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap " +
      "FROM events), " +
      "y AS (SELECT user_id, ts, value, CAST(sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid " +
      "FROM x) " +
      "SELECT user_id, sid, count(*) AS n_events, " +
      "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, " +
      "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end, " +
      "round(sum(value), 2) AS session_value " +
      "FROM y GROUP BY user_id, sid ORDER BY user_id, sid")),
    Q("q_session_window", sessionWindow, Some(
      "WITH x AS (SELECT user_id, event_id, ts, value, " +
      "epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap " +
      "FROM events), " +
      "y AS (SELECT user_id, ts, value, sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid " +
      "FROM x) " +
      "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, " +
      "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end, " +
      "count(*) AS n_events, round(sum(value), 2) AS session_value " +
      "FROM y GROUP BY user_id, sid ORDER BY user_id, session_start")),
    Q("q_click_purchase_join", clickPurchaseJoin, Some(
      "SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id, " +
      "strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts, " +
      "strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts, " +
      "round(p.value, 2) AS purchase_value " +
      "FROM events c JOIN events p ON c.user_id = p.user_id " +
      "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
      "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE " +
      "ORDER BY 1, 2, 3")),
    Q("q_click_purchase_outer", clickPurchaseOuter, Some(
      "SELECT c.user_id, c.event_id AS click_id, " +
      "strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts, " +
      "p.event_id AS purchase_id, round(p.value, 2) AS purchase_value " +
      "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
      "LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
      "ON p.user_id = c.user_id " +
      "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE " +
      "ORDER BY c.user_id, click_id, purchase_id NULLS FIRST")),
    Q("q_asof_join", asofJoin, Some(
      "SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id, " +
      "strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts, round(p.value, 2) AS last_purchase_value " +
      "FROM (SELECT * FROM events WHERE event_type = 'view') v " +
      "ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
      "ON v.user_id = p.user_id AND v.ts >= p.ts ORDER BY 1, 2")),
    Q("q_sliding_window", slidingWindow, Some(
      "WITH x AS (SELECT event_type, " +
      "make_timestamp(epoch_us(ts) - epoch_us(ts) % 900000000 - i * 900000000) AS ws " +
      "FROM events, range(0, 4) t(i)) " +
      "SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type, " +
      "count(*) AS n_events FROM x GROUP BY 1, 2 ORDER BY 1, 2")),
    Q("q_range_join_binned", rangeJoinBinned, Some(
      "SELECT e.event_id, count(*) AS n_follow, round(sum(f.value), 2) AS follow_value " +
      "FROM events e JOIN events f ON f.ts >= e.ts AND f.ts <= e.ts + INTERVAL 5 MINUTE " +
      "AND f.event_id <> e.event_id WHERE e.event_type = 'error' " +
      "GROUP BY 1 ORDER BY 1")),
    Q("q_cms_counts", cmsCounts, Some {
      val h = (v: String, j: String) =>
        "(" + (1 to 8).map(i =>
          s"ascii(substr(md5(CAST($j AS VARCHAR) || '|' || $v), $i, 1)) * $i")
          .mkString(" + ") + ") % 64"
      "WITH buckets AS (SELECT j, " + h("event_type", "j") + " AS b, count(*) AS n " +
      "FROM events, range(0, 4) t(j) GROUP BY 1, 2), " +
      "types AS (SELECT event_type, count(*) AS exact_n FROM events GROUP BY 1), " +
      "probes AS (SELECT event_type, exact_n, j, " + h("event_type", "j") + " AS b " +
      "FROM types, range(0, 4) t(j)) " +
      "SELECT event_type, exact_n, min(n) AS cms_est " +
      "FROM probes JOIN buckets USING (j, b) GROUP BY 1, 2 ORDER BY 1"
    }),
    Q("q_gap_fill", gapFill, Some(
      "WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0, " +
      "date_trunc('hour', max(ts)) AS h1 FROM events), " +
      "hrs AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b), " +
      "typ AS (SELECT DISTINCT event_type AS et FROM events), " +
      "agg AS (SELECT date_trunc('hour', ts) AS h, event_type AS et, " +
      "count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents " +
      "FROM events GROUP BY 1, 2) " +
      "SELECT strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour, g.et AS event_type, " +
      "coalesce(a.n, 0) AS n_events, coalesce(a.cents, 0) AS value_cents, " +
      "coalesce(last_value(a.cents IGNORE NULLS) OVER (PARTITION BY g.et ORDER BY g.h " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS filled_cents " +
      "FROM (SELECT h, et FROM hrs CROSS JOIN typ) g " +
      "LEFT JOIN agg a ON g.h = a.h AND g.et = a.et ORDER BY 1, 2")),
    Q("q_daily_type_counts", dailyTypeCounts, Some(
      "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS day, event_type, " +
      "count(*) AS n_events, count(DISTINCT user_id) AS n_users " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2")),
    Q("q_zorder_layout", zorderLayout, Some(
      "WITH e AS (SELECT user_id & 255 AS a, " +
      "CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) & 255 AS b FROM events), " +
      "z AS (SELECT a, b, " +
      "list_sum(list_transform(range(0, 8), i -> ((a >> i) & 1) << (2*i + 1))) + " +
      "list_sum(list_transform(range(0, 8), i -> ((b >> i) & 1) << (2*i))) AS z FROM e) " +
      "SELECT CAST(z >> 8 AS INT) AS bucket, count(*) AS n_rows, " +
      "min(a) AS min_user, max(a) AS max_user, " +
      "min(b) AS min_hour, max(b) AS max_hour " +
      "FROM z GROUP BY 1 ORDER BY 1")),
    Q("q_funnel_steps", funnelSteps, Some(
      "WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
      "WHERE event_type = 'view' GROUP BY 1), " +
      "t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN t1 USING (user_id) " +
      "WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1), " +
      "t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t2 USING (user_id) " +
      "WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1) " +
      "SELECT * FROM (" +
      "SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM t1 " +
      "UNION ALL SELECT 2, 'click', count(*) FROM t2 " +
      "UNION ALL SELECT 3, 'purchase', count(*) FROM t3) u ORDER BY step")),
    Q("q_funnel_watermarked", funnelWatermarked, Some(funnelWatermarkedSql)),
    Q("q_interval_merge", intervalMerge, Some(
      "WITH iv AS (SELECT user_id, epoch_us(ts) AS st, epoch_us(ts) + 1800000000 AS en FROM events), " +
      "x AS (SELECT user_id, st, en, max(en) OVER (PARTITION BY user_id ORDER BY st, en " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv), " +
      "y AS (SELECT user_id, st, en, CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END AS ni FROM x), " +
      "z AS (SELECT user_id, st, en, sum(ni) OVER (PARTITION BY user_id ORDER BY st, en " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM y), " +
      "isl AS (SELECT user_id, island, min(st) AS ist, max(en) AS ien FROM z GROUP BY 1, 2) " +
      "SELECT user_id, count(*) AS n_islands, CAST(sum(ien - ist) AS BIGINT) AS covered_us, " +
      "max(ien - ist) AS longest_us FROM isl GROUP BY 1 ORDER BY 1")),
    Q("q_anomaly_zscore", anomalyZscore, Some(
      "WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
      "st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(cnt) AS BIGINT) AS s, CAST(sum(cnt * cnt) AS BIGINT) AS ss " +
      "FROM hc GROUP BY 1) " +
      "SELECT hc.event_type, strftime(hc.h, '%Y-%m-%d %H:%M:%S') AS hour, hc.cnt, " +
      "CASE WHEN n * cnt - s > 0 THEN 'high' ELSE 'low' END AS side " +
      "FROM hc JOIN st USING (event_type) " +
      "WHERE (n * cnt - s) * (n * cnt - s) > 4 * (n * ss - s * s) " +
      "ORDER BY event_type, hour")),
    Q("q_anomaly_prequential", anomalyPrequential, Some(
      "WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
      "r AS (SELECT event_type, h, cnt, " +
      "CAST(count(*) OVER w AS BIGINT) AS n, " +
      "CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT) AS s, " +
      "CAST(coalesce(sum(cnt * cnt) OVER w, 0) AS BIGINT) AS ss " +
      "FROM hc WINDOW w AS (PARTITION BY event_type ORDER BY h " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
      "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, cnt, " +
      "CASE WHEN n * cnt - s > 0 THEN 'high' ELSE 'low' END AS side " +
      "FROM r WHERE n >= 8 AND (n * cnt - s) * (n * cnt - s) > 4 * (n * ss - s * s) " +
      "ORDER BY event_type, hour")),
    Q("q_cusum_chain", cusumChain, Some(cusumDriftSql)),
    Q("q_anomaly_chain", anomalyChain, Some(
      // the composed stream must reproduce the batch prequential row
      // exactly — same oracle as q_anomaly_prequential by design
      "WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
      "r AS (SELECT event_type, h, cnt, " +
      "CAST(count(*) OVER w AS BIGINT) AS n, " +
      "CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT) AS s, " +
      "CAST(coalesce(sum(cnt * cnt) OVER w, 0) AS BIGINT) AS ss " +
      "FROM hc WINDOW w AS (PARTITION BY event_type ORDER BY h " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
      "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, cnt, " +
      "CASE WHEN n * cnt - s > 0 THEN 'high' ELSE 'low' END AS side " +
      "FROM r WHERE n >= 8 AND (n * cnt - s) * (n * cnt - s) > 4 * (n * ss - s * s) " +
      "ORDER BY event_type, hour")),
    Q("q_transition_matrix", transitionMatrix, Some(
      "WITH x AS (SELECT user_id, event_type AS from_type, " +
      "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type FROM events), " +
      "c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans " +
      "FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2), " +
      "t AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS tot FROM c GROUP BY 1) " +
      "SELECT c.from_type, c.to_type, c.n_trans, (c.n_trans * 1000000) // t.tot AS prob_ppm " +
      "FROM c JOIN t USING (from_type) ORDER BY 1, 2")),
    Q("q_retention_cohorts", retentionCohorts, Some(
      "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
      "fd AS (SELECT user_id, min(day) AS cohort FROM ud GROUP BY 1) " +
      "SELECT strftime(fd.cohort, '%Y-%m-%d') AS cohort, " +
      "CAST(date_diff('day', fd.cohort, ud.day) AS INT) AS day_offset, " +
      "count(*) AS n_users " +
      "FROM ud JOIN fd USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2")),
  )
}
