package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{StampedCache, Tables}

/** Telemetry / monitoring operators (SURVEY.md §2.A) — the Spark-native
  * re-expression of the reference's analytics surface:
  *
  *  - device→stream lookup        (check_connect.sh:3 list-streams + jq)
  *  - latest stream status        (check_connect.sh:9 describe-stream)
  *  - windowed metric statistics  (putmedia_check.sh:10-37
  *                                 get-metric-statistics Sum, 60s period)
  *  - consecutive-failure runs +
  *    escalating remediation      (restart.sh:27-159 max_failed_cnt=3,
  *                                 service restart → network → USB → reboot)
  *
  * The `events` table plays the telemetry feed: user_id ↔ device,
  * event_type='error' ↔ failed probe, value ↔ metric sample.
  *
  * Scale notes: every operator is a single pass over events with at most
  * one shuffle keyed by device (window functions) plus one aggregation
  * shuffle. No driver-side loops; per-device state is bounded by run/
  * session counts, not event counts.
  */

/** A70c per-device state: the open hour's event summaries plus the
  * prior-hour failure history folded to four scalars (count, running
  * sum for the batch avg, Welford mean/m2 for the batch stddev_pop).
  * `hourUs` Long.MinValue = no hour opened yet. Top-level so the
  * flatMapGroupsWithState encoder derives. */
case class AlarmDevState(hourUs: Long,
    evs: List[(Long, Long, String, String)],
    n: Long, sum: Double, mean: Double, m2: Double)

/** A70c output row — the alarmWindowsOf-shaped triage input. */
case class AlarmWindowRow(user_id: Long, hour_us: Long, text: String)

object Monitoring {

  /** One event-time hour in epoch microseconds — the A69/A70 window
    * grain, shared by the batch builder and its streaming twin. */
  private[graft] val AlarmHourUs = 3600000000L

  /** Timestamps are emitted as epoch microseconds (BIGINT) — engine-
    * neutral, per SURVEY.md §4. */
  private val tsUs = "unix_micros(ts)"

  // ---------------------------------------------------------------- A1
  /** Device→stream registry lookup: the first event per device is its
    * "stream registration" (list-streams | jq 'select(.DeviceName==d)' |
    * head -1). Filter to a device subset like the reference's
    * single-device lookup. */
  def registryLookup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // arg-min as a map-side partial aggregation (min over a struct is
    // lexicographic on (ts, event_id)) — no per-device window sort, no
    // full shuffle of the event stream.
    Tables.events(spark, sfDir)
      .filter($"user_id" < 5)
      .groupBy($"user_id")
      .agg(min(struct($"ts", $"event_id")).as("first"))
      .select($"user_id", $"first.event_id".as("stream_id"),
        expr("unix_micros(first.ts)").as("registered_us"))
      .orderBy($"user_id")
  }

  val registryLookupSql: String =
    """SELECT user_id, event_id AS stream_id, epoch_us(ts) AS registered_us
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) AS rn
      |      FROM events WHERE user_id < 5) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A2
  /** Latest status per device (describe-stream .Status): the most recent
    * event's type, deterministic tie-break on event_id. */
  def latestStatus(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // arg-max via max(struct(ts, event_id, ...)): map-side partial agg
    // replaces the per-device window sort — at 100 TB this shuffles one
    // row per device per map task instead of every event.
    Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(max(struct($"ts", $"event_id", $"event_type")).as("last"))
      .select($"user_id", $"last.event_type".as("status"),
        expr("unix_micros(last.ts)").as("status_us"))
      .orderBy($"user_id")
  }

  val latestStatusSql: String =
    """SELECT user_id, event_type AS status, epoch_us(ts) AS status_us
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A3
  /** CloudWatch get-metric-statistics analog: per-device 60-second
    * tumbling window Sum of the metric (putmedia_check.sh PERIOD=60,
    * --statistics Sum, success events only). Map-side partial agg +
    * one shuffle on (device, window). */
  def windowSum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id", date_trunc("minute", $"ts").as("w"))
      .agg(sum($"value".cast("decimal(18,4)")).cast("double").as("metric_sum"),
        count(lit(1)).as("sample_count"))
      .select($"user_id", expr("unix_micros(w)").as("window_us"),
        $"metric_sum", $"sample_count")
      .orderBy($"user_id", $"window_us")
  }

  val windowSumSql: String =
    """SELECT user_id, epoch_us(date_trunc('minute', ts)) AS window_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS metric_sum,
      |  COUNT(*) AS sample_count
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id, date_trunc('minute', ts)
      |ORDER BY user_id, window_us""".stripMargin

  // ---------------------------------------------------------------- A4
  /** Full CloudWatch statistic set per hourly window:
    * Sum/Average/Minimum/Maximum/SampleCount. */
  def windowStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id", date_trunc("hour", $"ts").as("w"))
      .agg(
        sum($"value".cast("decimal(18,4)")).cast("double").as("stat_sum"),
        (sum($"value".cast("decimal(18,4)")).cast("double") / count(lit(1))).as("stat_avg"),
        min($"value").as("stat_min"),
        max($"value").as("stat_max"),
        count(lit(1)).as("sample_count"))
      .select($"user_id", expr("unix_micros(w)").as("window_us"),
        $"stat_sum", $"stat_avg", $"stat_min", $"stat_max", $"sample_count")
      .orderBy($"user_id", $"window_us")
  }

  val windowStatsSql: String =
    """SELECT user_id, epoch_us(date_trunc('hour', ts)) AS window_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS stat_sum,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS stat_avg,
      |  MIN(value) AS stat_min, MAX(value) AS stat_max,
      |  COUNT(*) AS sample_count
      |FROM events
      |GROUP BY user_id, date_trunc('hour', ts)
      |ORDER BY user_id, window_us""".stripMargin

  // ---------------------------------------------------------------- A5
  /** Gaps-and-islands: ALL maximal consecutive-error runs per device,
    * regardless of length (two window passes + one agg, all keyed by
    * device). Shared by A5 (filters to >= 3) and A9 (max over all). */
  private def errorRuns(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wAll = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wTyp = Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(wAll))
      .withColumn("rn_t", row_number().over(wTyp))
      .filter($"event_type" === "error")
      .groupBy($"user_id", ($"rn" - $"rn_t").as("grp"))
      .agg(count(lit(1)).as("run_len"),
        min(expr(tsUs)).as("start_us"), max(expr(tsUs)).as("end_us"))
  }

  /** The oracle-side twin of [[errorRuns]] filtered to incidents
    * (runs of ≥ 3 errors) — shared by the A27/A28 oracle SQL. */
  private val incidentsCte: String =
    """seq AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rn_t
      |  FROM events),
      |inc AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
      |  FROM seq WHERE event_type = 'error'
      |  GROUP BY user_id, rn - rn_t
      |  HAVING COUNT(*) >= 3)""".stripMargin

  // ---------------------------------------------------------------- A27
  /** Bucketed RANGE JOIN: every healthy event within ±5 minutes of a
    * failure incident (run of ≥ 3 errors, restart.sh:16 max_failed_cnt)
    * on the same device — "what else was the gateway doing around the
    * outage", the postmortem twin of the reference's get_fragment_list
    * probing around a stall (putmedia_check2.sh:22-52).
    *
    * Spark has no native range join; the naive formulation
    * (`e.join(inc, cond = between)`) plans a per-device cartesian. This
    * is the scale-safe bucketing idiom instead: the timeline is cut
    * into fixed 10-minute buckets, each incident EXPLODES to the
    * buckets its padded window covers (intervals are short, so a
    * handful of rows each), each event maps to exactly one bucket, and
    * the join is a plain equi-join on (device, bucket) + an exact range
    * filter. One shuffle, join fan-out bounded by events-per-bucket;
    * because an event has exactly one bucket, no dedup pass is needed.
    * 100 TB: identical shape, pick the bucket ≈ median interval width. */
  def incidentContext(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bucketUs = 600000000L // 10 min
    val padUs = 300000000L // ±5 min
    val inc = errorRuns(spark, sfDir).filter($"run_len" >= 3)
      .select($"user_id", $"start_us", $"end_us",
        ($"start_us" - padUs).as("lo"), ($"end_us" + padUs).as("hi"))
      .withColumn("bucket", explode(expr(s"sequence(lo div $bucketUs, hi div $bucketUs)")))
    val ev = Tables.events(spark, sfDir)
      .filter($"event_type" =!= "error")
      .select($"user_id", $"event_id", $"event_type", expr(tsUs).as("us"))
      .withColumn("bucket", expr(s"us div $bucketUs"))
    ev.join(inc, Seq("user_id", "bucket"))
      .filter($"us" >= $"lo" && $"us" <= $"hi")
      .select($"user_id", $"start_us", $"event_id",
        $"us".as("event_us"), $"event_type")
      .orderBy($"user_id", $"start_us", $"event_us", $"event_id")
  }

  val incidentContextSql: String =
    s"""WITH $incidentsCte
       |SELECT e.user_id, i.start_us, e.event_id,
       |  epoch_us(e.ts) AS event_us, e.event_type
       |FROM events e JOIN inc i ON e.user_id = i.user_id
       |  AND epoch_us(e.ts) BETWEEN i.start_us - 300000000 AND i.end_us + 300000000
       |WHERE e.event_type <> 'error'
       |ORDER BY e.user_id, i.start_us, event_us, e.event_id""".stripMargin

  // ---------------------------------------------------------------- A28
  /** MTTR (mean time to recovery): for each failure incident, the gap
    * from the last error to the device's next healthy event — the
    * effectiveness measure of restart.sh's remediation ladder
    * (restart.sh:27-159: how long after the last failed probe did the
    * stream actually come back). The
    * lookup is the asof-join composition idiom (A15, mirrored forward):
    * tag + union probes (incident ends) with healthy events, sort once
    * per device, and take the first non-null healthy timestamp in the
    * strictly-following frame — one shuffle, no per-incident scans.
    * Ties at the same microsecond sort healthy-first, which the
    * following-rows frame then EXCLUDES — exactly the oracle's strict
    * `>`. Incidents with no later healthy event report -1 (device never
    * recovered), keeping the column non-null for hash stability. */
  def mttr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val probes = errorRuns(spark, sfDir).filter($"run_len" >= 3)
      .select($"user_id", $"end_us".as("us"), lit(null).cast("long").as("healthy_us"),
        $"start_us", $"end_us", lit(1).as("is_probe"), lit(Long.MaxValue).as("tie"))
    val healthy = Tables.events(spark, sfDir)
      .filter($"event_type" =!= "error")
      .select($"user_id", expr(tsUs).as("us"), expr(tsUs).as("healthy_us"),
        lit(null).cast("long").as("start_us"), lit(null).cast("long").as("end_us"),
        lit(0).as("is_probe"), $"event_id".as("tie"))
    val w = Window.partitionBy($"user_id").orderBy($"us", $"is_probe", $"tie")
    probes.unionByName(healthy)
      .withColumn("recovery_us", first($"healthy_us", ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .filter($"is_probe" === 1)
      .select($"user_id", $"start_us", $"end_us",
        coalesce($"recovery_us" - $"end_us", lit(-1L)).as("mttr_us"))
      .orderBy($"user_id", $"start_us")
  }

  val mttrSql: String =
    s"""WITH $incidentsCte
       |SELECT i.user_id, i.start_us, i.end_us,
       |  CAST(COALESCE(
       |    (SELECT MIN(epoch_us(h.ts)) FROM events h
       |     WHERE h.user_id = i.user_id AND h.event_type <> 'error'
       |       AND epoch_us(h.ts) > i.end_us) - i.end_us, -1) AS BIGINT) AS mttr_us
       |FROM inc i ORDER BY i.user_id, i.start_us""".stripMargin

  /** Runs of >= 3 consecutive failures — the reference's
    * max_failed_cnt=3 trigger (restart.sh:16,121). */
  def consecutiveFailures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    errorRuns(spark, sfDir)
      .filter($"run_len" >= 3)
      .select($"user_id", $"run_len", $"start_us", $"end_us")
      .orderBy($"user_id", $"start_us")
  }

  val consecutiveFailuresSql: String =
    """WITH seq AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rn_t
      |  FROM events)
      |SELECT user_id, COUNT(*) AS run_len,
      |  MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
      |FROM seq WHERE event_type = 'error'
      |GROUP BY user_id, rn - rn_t
      |HAVING COUNT(*) >= 3
      |ORDER BY user_id, start_us""".stripMargin

  // ---------------------------------------------------------------- A6
  /** Sessionization with a 30-minute inactivity gap (uptime bookkeeping
    * between the reference's loop_time windows). All arithmetic in
    * epoch micros so both engines compare identical integers. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapUs = 30L * 60 * 1000000
    Tables.events(spark, sfDir)
      .withColumn("us", expr(tsUs))
      .withColumn("prev_us", lag($"us", 1).over(w))
      .withColumn("new_s",
        when($"prev_us".isNull || $"us" - $"prev_us" > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum($"new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(min($"us").as("start_us"), max($"us").as("end_us"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id", $"session_id")
  }

  val sessionizeSql: String =
    """WITH x AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      |              OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |y AS (
      |  SELECT user_id, us,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM x)
      |SELECT user_id, session_id, MIN(us) AS start_us, MAX(us) AS end_us,
      |  COUNT(*) AS n_events
      |FROM y GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- A7
  /** Uptime ratio: fraction of a device's active minutes that saw at
    * least one healthy (non-error) event. */
  def uptimeRatio(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id", date_trunc("minute", $"ts").as("w"))
      .agg(max(when($"event_type" =!= "error", 1L).otherwise(0L)).as("healthy"))
      .groupBy($"user_id")
      .agg(sum($"healthy").as("healthy_windows"), count(lit(1)).as("total_windows"),
        (sum($"healthy").cast("double") / count(lit(1))).as("uptime_ratio"))
      .orderBy($"user_id")
  }

  val uptimeRatioSql: String =
    """WITH w AS (
      |  SELECT user_id, date_trunc('minute', ts) AS m,
      |    MAX(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS healthy
      |  FROM events GROUP BY user_id, date_trunc('minute', ts))
      |SELECT user_id, CAST(SUM(healthy) AS BIGINT) AS healthy_windows,
      |  COUNT(*) AS total_windows,
      |  CAST(SUM(healthy) AS DOUBLE) / COUNT(*) AS uptime_ratio
      |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A8
  /** Alert windows: hourly windows that saw failures and zero healthy
    * events — the is_connected()==false branch that triggers
    * remediation (restart.sh:54-66). */
  def alertWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id", date_trunc("hour", $"ts").as("w"))
      .agg(
        sum(when($"event_type" === "error", 1L).otherwise(0L)).as("failures"),
        sum(when($"event_type" =!= "error", 1L).otherwise(0L)).as("successes"))
      .filter($"failures" >= 1 && $"successes" === 0)
      .select($"user_id", expr("unix_micros(w)").as("window_us"), $"failures")
      .orderBy($"user_id", $"window_us")
  }

  val alertWindowsSql: String =
    """SELECT user_id, epoch_us(date_trunc('hour', ts)) AS window_us,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS failures
      |FROM events
      |GROUP BY user_id, date_trunc('hour', ts)
      |HAVING SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) >= 1
      |   AND SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) = 0
      |ORDER BY user_id, window_us""".stripMargin

  // ---------------------------------------------------------------- A9
  /** Batch replay of the restart.sh escalation ladder: a device's worst
    * consecutive-failure run decides the remediation level
    * (3 → service restart, 6 → USB power-cycle, 9 → reboot;
    * restart.sh:27-45, check_network.sh:37-44). */
  def escalationBatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    errorRuns(spark, sfDir)
      .groupBy($"user_id")
      .agg(max($"run_len").as("max_consecutive_failures"))
      .withColumn("action",
        when($"max_consecutive_failures" >= 9, "REBOOT")
          .when($"max_consecutive_failures" >= 6, "USB_POWER_CYCLE")
          .when($"max_consecutive_failures" >= 3, "SERVICE_RESTART")
          .otherwise("OK"))
      .orderBy($"user_id")
  }

  val escalationBatchSql: String =
    """WITH seq AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rn_t
      |  FROM events),
      |runs AS (
      |  SELECT user_id, COUNT(*) AS len FROM seq
      |  WHERE event_type = 'error' GROUP BY user_id, rn - rn_t)
      |SELECT user_id, MAX(len) AS max_consecutive_failures,
      |  CASE WHEN MAX(len) >= 9 THEN 'REBOOT'
      |       WHEN MAX(len) >= 6 THEN 'USB_POWER_CYCLE'
      |       WHEN MAX(len) >= 3 THEN 'SERVICE_RESTART'
      |       ELSE 'OK' END AS action
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A22
  /** Windowed escalation — the reference's *actual* reset semantics:
    * restart.sh:27-35 re-zeroes `kvs_failed_cnt`/`exec_cnt` every
    * `exec_max_cnt=3` probes / `loop_time=300`s, so failures are
    * counted within a measurement window, never globally. Here the
    * measurement window is a 300-second tumbling window (loop_time);
    * consecutive-failure runs are computed WITHIN each (device,
    * window) — a run cannot span a window boundary, exactly like the
    * counter reset. Same shuffle profile as A5/A9: two window passes +
    * two aggs, all keyed by (device, window). */
  def escalationWindowed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val winUs = 300L * 1000000 // restart.sh loop_time=300s
    val ev = Tables.events(spark, sfDir)
      .withColumn("w", expr(s"($tsUs div $winUs) * $winUs"))
    val wAll = Window.partitionBy($"user_id", $"w").orderBy($"ts", $"event_id")
    val wTyp = Window.partitionBy($"user_id", $"w", $"event_type")
      .orderBy($"ts", $"event_id")
    ev.withColumn("rn", row_number().over(wAll))
      .withColumn("rn_t", row_number().over(wTyp))
      .filter($"event_type" === "error")
      .groupBy($"user_id", $"w", ($"rn" - $"rn_t").as("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy($"user_id", $"w")
      .agg(max($"run_len").as("max_consecutive_failures"))
      .withColumn("action",
        when($"max_consecutive_failures" >= 9, "REBOOT")
          .when($"max_consecutive_failures" >= 6, "USB_POWER_CYCLE")
          .when($"max_consecutive_failures" >= 3, "SERVICE_RESTART")
          .otherwise("OK"))
      .select($"user_id", $"w".as("window_us"),
        $"max_consecutive_failures", $"action")
      .orderBy($"user_id", $"window_us")
  }

  val escalationWindowedSql: String =
    """WITH seq AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    (epoch_us(ts) // 300000000) * 300000000 AS w,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // 300000000
      |                       ORDER BY ts, event_id) AS rn,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // 300000000,
      |                       event_type ORDER BY ts, event_id) AS rn_t
      |  FROM events),
      |runs AS (
      |  SELECT user_id, w, COUNT(*) AS len FROM seq
      |  WHERE event_type = 'error' GROUP BY user_id, w, rn - rn_t)
      |SELECT user_id, w AS window_us, MAX(len) AS max_consecutive_failures,
      |  CASE WHEN MAX(len) >= 9 THEN 'REBOOT'
      |       WHEN MAX(len) >= 6 THEN 'USB_POWER_CYCLE'
      |       WHEN MAX(len) >= 3 THEN 'SERVICE_RESTART'
      |       ELSE 'OK' END AS action
      |FROM runs GROUP BY user_id, w
      |ORDER BY user_id, window_us""".stripMargin

  // ---------------------------------------------------------------- A23
  /** Incident retry accounting — check_network.sh:10-11's
    * `max_retries=10` budget: each maximal consecutive-failure run is
    * one incident; `attempts` is how many probes it burned; an incident
    * whose run ends before the device's last event recovered (the next
    * event is non-error by run maximality), otherwise it is still
    * ONGOING at end of history; blowing the 10-attempt budget is the
    * reference's reboot branch. Companion to A15's time-to-failure.
    * Cost: the A5 runs pipeline + one broadcast join against the tiny
    * per-device event-count aggregate. */
  def incidentRetries(spark: SparkSession, sfDir: String,
      maxRetries: Int = 10): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val wAll = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wTyp = Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
    val totals = ev.groupBy($"user_id").agg(count(lit(1)).as("n_events"))
    ev.withColumn("rn", row_number().over(wAll))
      .withColumn("rn_t", row_number().over(wTyp))
      .filter($"event_type" === "error")
      .groupBy($"user_id", ($"rn" - $"rn_t").as("grp"))
      .agg(count(lit(1)).as("attempts"),
        min(expr(tsUs)).as("start_us"), max(expr(tsUs)).as("end_us"),
        max($"rn").as("end_rn"))
      .join(broadcast(totals), Seq("user_id"))
      .withColumn("recovered", $"end_rn" < $"n_events")
      .withColumn("outcome",
        when($"attempts" >= maxRetries, "REBOOT")
          .when($"recovered", "RECOVERED")
          .otherwise("ONGOING"))
      .select($"user_id", $"start_us", $"end_us", $"attempts",
        $"recovered", $"outcome")
      .orderBy($"user_id", $"start_us")
  }

  val incidentRetriesSql: String =
    """WITH seq AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts, event_id) AS rn_t
      |  FROM events),
      |runs AS (
      |  SELECT user_id, COUNT(*) AS attempts,
      |    MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
      |    MAX(rn) AS end_rn
      |  FROM seq WHERE event_type = 'error'
      |  GROUP BY user_id, rn - rn_t),
      |tot AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
      |SELECT r.user_id, start_us, end_us, attempts,
      |  end_rn < n_events AS recovered,
      |  CASE WHEN attempts >= 10 THEN 'REBOOT'
      |       WHEN end_rn < n_events THEN 'RECOVERED'
      |       ELSE 'ONGOING' END AS outcome
      |FROM runs r JOIN tot USING (user_id)
      |ORDER BY user_id, start_us""".stripMargin

  // ---------------------------------------------------------------- A10
  /** Top-k devices by error count, fully tie-broken. */
  def topErrorDevices(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"event_type" === "error")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_errors"))
      .orderBy($"n_errors".desc, $"user_id")
      .limit(5)
  }

  val topErrorDevicesSql: String =
    """SELECT user_id, COUNT(*) AS n_errors
      |FROM events WHERE event_type = 'error'
      |GROUP BY user_id ORDER BY n_errors DESC, user_id LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- A11
  /** JSON payload extraction (the reference's jq over list-streams
    * JSON): pull $.k out of the props JSON blob and aggregate. Pure
    * codegen'd path extraction — no shuffle until the final agg. */
  def jsonProps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"user_id")
      .agg(sum($"k").as("sum_k"), max($"k").as("max_k"),
        count($"k").as("n_props"))
      .orderBy($"user_id")
  }

  val jsonPropsSql: String =
    """SELECT user_id,
      |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k,
      |  COUNT(CAST(props->>'$.k' AS BIGINT)) AS n_props
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A21
  /** Moving average over per-minute metric sums (5-window trailing
    * frame) — the smoothed CloudWatch chart. All window arithmetic in
    * exact decimal: DuckDB's segment-tree window aggregation sums
    * frames in a different order than Spark's running frames, so
    * double accumulation would drift; decimal is order-free. */
  def movingAvg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perMinute = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id", date_trunc("minute", $"ts").as("w"))
      .agg(sum($"value".cast("decimal(18,4)")).as("m"))
    val frame = Window.partitionBy($"user_id").orderBy($"w")
      .rowsBetween(-4, Window.currentRow)
    perMinute
      .withColumn("ma5",
        (sum($"m").over(frame).cast("double") / count(lit(1)).over(frame)))
      .select($"user_id", expr("unix_micros(w)").as("window_us"),
        $"m".cast("double").as("metric_sum"), $"ma5")
      .orderBy($"user_id", $"window_us")
  }

  val movingAvgSql: String =
    """WITH pm AS (
      |  SELECT user_id, date_trunc('minute', ts) AS w,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS m
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, date_trunc('minute', ts))
      |SELECT user_id, epoch_us(w) AS window_us,
      |  CAST(m AS DOUBLE) AS metric_sum,
      |  CAST(SUM(m) OVER f AS DOUBLE) / COUNT(*) OVER f AS ma5
      |FROM pm
      |WINDOW f AS (PARTITION BY user_id ORDER BY w
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, window_us""".stripMargin

  // ---------------------------------------------------------------- A40
  /** Heartbeat-gap detection: windows where a device posted NOTHING
    * for more than `maxGapUs` (default 12 h) — the "absence of data is itself an
    * alert" staple (a stream that stops putting media never trips a
    * value threshold; the reference's describe-stream poll exists
    * precisely because of this). One lag window per device (single
    * exchange on user_id, two longs of window state); emits each
    * silent interval with its bounding event ids. The final event's
    * open-ended silence is a STREAMING concern (A12's timeout
    * handling) — batch reports only closed gaps, by construction. */
  def heartbeatGaps(spark: SparkSession, sfDir: String,
      maxGapUs: Long = 43200000000L): DataFrame = {
    import spark.implicits._
    require(maxGapUs > 0, s"maxGapUs $maxGapUs must be positive")
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", expr("unix_micros(ts)").as("us"), $"event_id")
      .withColumn("prev_us", lag($"us", 1).over(w))
      .withColumn("prev_id", lag($"event_id", 1).over(w))
      .filter($"prev_us".isNotNull && $"us" - $"prev_us" > maxGapUs)
      .select($"user_id", $"prev_us".as("gap_start_us"),
        $"us".as("gap_end_us"), ($"us" - $"prev_us").as("gap_us"),
        $"prev_id".as("last_event_id"), $"event_id".as("next_event_id"))
      .orderBy($"user_id", $"gap_start_us", $"next_event_id")
  }

  // ---------------------------------------------------------------- A58
  /** INCIDENT BLAST-RADIUS groups — the step after A45b answers "did
    * these two degrade together": cluster the correlated-anomaly PAIRS
    * into connected components, giving the operator the actual
    * common-cause groups (a shared switch takes out a component, not a
    * pair; remediation is per-group). Edges = A45b pairs with
    * |corr| ≥ `corrThreshold` (anti-correlation is common-cause signal
    * too — a failing-over pair moves opposite); components via
    * [[Scale.connectedComponents]] (edge count bounded by panel², so
    * the driver union-find fast path always applies); per group the
    * size and the sorted member list, serialized as a comma-joined
    * string (a flat column the driver's rows-only harness can
    * sort/hash — an ARRAY column crashes its pandas checker).
    * Rows-only: component labeling is engine-internal; the spec plants
    * two disjoint common-cause groups and pins exact recovery. */
  def incidentGroups(spark: SparkSession, sfDir: String,
      corrThreshold: Double = 0.8, k: Double = 2.0,
      target: Double = 50.0, slack: Double = 2.5, h: Double = 200.0,
      maxPanel: Int = 24, minBuckets: Long = 24): DataFrame =
    incidentGroupsOf(Tables.events(spark, sfDir), corrThreshold,
      k, target, slack, h, maxPanel, minBuckets)

  /** A58 over an arbitrary events frame (spec entry). */
  def incidentGroupsOf(events: DataFrame, corrThreshold: Double = 0.8,
      k: Double = 2.0, target: Double = 50.0, slack: Double = 2.5,
      h: Double = 200.0, maxPanel: Int = 24,
      minBuckets: Long = 24): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(corrThreshold > 0 && corrThreshold <= 1,
      s"corrThreshold $corrThreshold out of (0, 1]")
    val pairs = incidentPairsOf(events, corrThreshold, k, target,
        slack, h, maxPanel, minBuckets)
      .select($"device_a".as("id1"), $"device_b".as("id2"))
    Scale.connectedComponents(pairs)
      .groupBy($"comp")
      .agg(count(lit(1)).as("n_devices"),
        array_join(sort_array(collect_list($"id")), ",").as("devices"))
      .select($"comp".as("group_id"), $"n_devices", $"devices")
      .orderBy($"group_id")
  }

  // --------------------------------------------------------------- A58b
  /** INCIDENT EDGE LIST — the oracle-checkable half of A58: the
    * correlated-anomaly pairs that survive the |corr| ≥ threshold
    * screen, i.e. exactly the edges [[incidentGroupsOf]] feeds to
    * connected components. Splitting the dump means the pair math
    * (generators → kernel → threshold) is hash-checked against DuckDB
    * end to end even though component LABELING stays rows-only (labels
    * are engine-internal, D26's reason). Same composition-oracle
    * argument as A45b: every member is a parity operator, so the
    * filtered composition is too. */
  def incidentPairs(spark: SparkSession, sfDir: String,
      corrThreshold: Double = 0.8, k: Double = 2.0,
      target: Double = 50.0, slack: Double = 2.5, h: Double = 200.0,
      maxPanel: Int = 24, minBuckets: Long = 24): DataFrame =
    incidentPairsOf(Tables.events(spark, sfDir), corrThreshold,
      k, target, slack, h, maxPanel, minBuckets)

  /** A58b over an arbitrary events frame. */
  def incidentPairsOf(events: DataFrame, corrThreshold: Double = 0.8,
      k: Double = 2.0, target: Double = 50.0, slack: Double = 2.5,
      h: Double = 200.0, maxPanel: Int = 24,
      minBuckets: Long = 24): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(corrThreshold > 0 && corrThreshold <= 1,
      s"corrThreshold $corrThreshold out of (0, 1]")
    crossCorrAnomaliesOf(events, k, target, slack, h,
        maxPanel, minBuckets)
      .filter(abs($"corr_hv") >= corrThreshold)
      .withColumn("corr_hv", round($"corr_hv", 6))
      .orderBy($"device_a", $"device_b")
  }

  /** A58b oracle: A45b's composition SQL with the threshold screen on
    * top (round-6 quantization on the surfaced float, house rule). */
  def incidentPairsSql(corrThreshold: Double = 0.8, k: Double = 2.0,
      target: Double = 50.0, slack: Double = 2.5, h: Double = 200.0,
      maxPanel: Int = 24, minBuckets: Long = 24): String =
    s"""WITH pairs AS (
       |${crossCorrAnomaliesSql(k, target, slack, h, maxPanel, minBuckets)}
       |)
       |SELECT device_a, device_b, n_buckets, round(corr_hv, 6) AS corr_hv
       |FROM pairs WHERE abs(corr_hv) >= $corrThreshold
       |ORDER BY device_a, device_b""".stripMargin

  // ---------------------------------------------------------------- A57
  /** DOWNTIME / SLA calendar — A40's gap list rolled into the
    * per-device-day availability report an operations review actually
    * reads ("which devices broke their SLA, on which days, by how
    * much"): each closed silence gap is SPLIT across the day
    * boundaries it spans (explode the covered day range, credit each
    * day its exact overlap — the C33/B33 contribution-explode shape,
    * never a per-day rescan), then per (device, day) total downtime,
    * uptime ratio, and the SLA-breach verdict. Only days with
    * downtime appear (a zero-downtime day is the default, not a row);
    * the open-ended tail after a device's last event is A42's
    * business, by the same reasoning as A40. Fan-out is bounded by
    * gap-days, not corpus rows; the one exchange is the A40 lag
    * window this composes. */
  def downtimeSla(spark: SparkSession, sfDir: String,
      maxGapUs: Long = 43200000000L, slaTarget: Double = 0.95): DataFrame = {
    import spark.implicits._
    require(slaTarget > 0 && slaTarget < 1,
      s"slaTarget $slaTarget out of (0, 1)")
    val dayUs = 86400000000L
    heartbeatGaps(spark, sfDir, maxGapUs)
      .select($"user_id", $"gap_start_us".as("s"), $"gap_end_us".as("e"))
      .withColumn("day", explode(sequence(
        expr(s"s div $dayUs"), expr(s"e div $dayUs"))))
      .withColumn("ov",
        least($"e", ($"day" + 1L) * dayUs) - greatest($"s", $"day" * dayUs))
      .filter($"ov" > 0L)
      .groupBy($"user_id", $"day")
      .agg(sum($"ov").as("downtime_us"), count(lit(1)).as("n_gap_spans"))
      .select($"user_id", ($"day" * dayUs).as("day_us"),
        $"downtime_us", $"n_gap_spans",
        round(lit(1.0) - $"downtime_us".cast("double") / 86400000000.0, 6)
          .as("uptime_ratio"),
        ((lit(1.0) - $"downtime_us".cast("double") / 86400000000.0)
          < slaTarget).as("sla_breach"))
      .orderBy($"user_id", $"day_us")
  }

  def downtimeSlaSql(maxGapUs: Long = 43200000000L,
      slaTarget: Double = 0.95): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
       |g AS (
       |  SELECT user_id, lag(us) OVER w AS prev_us, us
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |gaps AS (
       |  SELECT user_id, prev_us AS s, us AS e2 FROM g
       |  WHERE prev_us IS NOT NULL AND us - prev_us > $maxGapUs),
       |d AS (
       |  SELECT user_id, s, e2,
       |    unnest(generate_series(s // 86400000000, e2 // 86400000000)) AS day
       |  FROM gaps),
       |o AS (
       |  SELECT user_id, day,
       |    least(e2, (day + 1) * 86400000000) -
       |      greatest(s, day * 86400000000) AS ov
       |  FROM d),
       |agg AS (
       |  SELECT user_id, day, CAST(SUM(ov) AS BIGINT) AS downtime_us,
       |    COUNT(*) AS n_gap_spans
       |  FROM o WHERE ov > 0 GROUP BY 1, 2)
       |SELECT user_id, day * 86400000000 AS day_us, downtime_us, n_gap_spans,
       |  ROUND(1.0 - CAST(downtime_us AS DOUBLE) / 86400000000.0, 6)
       |    AS uptime_ratio,
       |  (1.0 - CAST(downtime_us AS DOUBLE) / 86400000000.0) < $slaTarget
       |    AS sla_breach
       |FROM agg ORDER BY user_id, day_us""".stripMargin

  // ---------------------------------------------------------------- A65
  /** SLO ERROR BUDGET — the report an SRE review actually steers by
    * (A57 says which days broke; THIS says how much failure allowance
    * remains): per device, the observed span (first→last event), total
    * silence mass from A40's gap kernel, the budget the SLO grants
    * (span · (1 − slo)), the consumed fraction, and the exhausted
    * verdict — the "stop shipping, start fixing" line from the SRE
    * workbook. Composes heartbeatGaps verbatim (budget and gap list
    * cannot disagree on what counts as downtime); span comes from ONE
    * map-side min/max aggregate. Devices with a single event (zero
    * span) have no observable availability and are excluded, stated.
    * Budget arithmetic: one double product floored to micros — both
    * engines evaluate the identical IEEE tree; the consumed ratio
    * rounds at 6. */
  def errorBudget(spark: SparkSession, sfDir: String,
      maxGapUs: Long = 43200000000L, slo: Double = 0.95): DataFrame = {
    import spark.implicits._
    require(slo > 0 && slo < 1, s"slo $slo out of (0, 1)")
    val spans = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(min(expr("unix_micros(ts)")).as("first_us"),
        max(expr("unix_micros(ts)")).as("last_us"))
      .withColumn("span_us", $"last_us" - $"first_us")
      .filter($"span_us" > 0L)
    val down = heartbeatGaps(spark, sfDir, maxGapUs)
      .groupBy($"user_id")
      .agg(sum($"gap_us").as("d"), count(lit(1)).as("g"))
    spans.join(down, Seq("user_id"), "left")
      .select($"user_id", $"span_us",
        coalesce($"d", lit(0L)).as("downtime_us"),
        coalesce($"g", lit(0L)).as("n_gaps"))
      .withColumn("budget_us",
        floor($"span_us".cast("double") * (lit(1.0) - slo)).cast("long"))
      .withColumn("budget_consumed",
        round($"downtime_us".cast("double") /
          nullif($"budget_us", lit(0L)).cast("double"), 6))
      .withColumn("exhausted", $"downtime_us" > $"budget_us")
      .orderBy($"user_id")
  }

  def errorBudgetSql(maxGapUs: Long = 43200000000L,
      slo: Double = 0.95): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
       |g AS (
       |  SELECT user_id, lag(us) OVER w AS prev_us, us
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |gaps AS (
       |  SELECT user_id, us - prev_us AS gap_us FROM g
       |  WHERE prev_us IS NOT NULL AND us - prev_us > $maxGapUs),
       |sp AS (
       |  SELECT user_id, CAST(max(us) - min(us) AS BIGINT) AS span_us
       |  FROM e GROUP BY user_id HAVING max(us) - min(us) > 0),
       |d AS (
       |  SELECT user_id, CAST(SUM(gap_us) AS BIGINT) AS downtime_us,
       |    COUNT(*) AS n_gaps
       |  FROM gaps GROUP BY user_id),
       |j AS (
       |  SELECT sp.user_id, sp.span_us,
       |    COALESCE(d.downtime_us, 0) AS downtime_us,
       |    COALESCE(d.n_gaps, 0) AS n_gaps,
       |    CAST(floor(CAST(sp.span_us AS DOUBLE)
       |      * (CAST(1.0 AS DOUBLE) - $slo)) AS BIGINT) AS budget_us
       |  FROM sp LEFT JOIN d ON sp.user_id = d.user_id)
       |SELECT user_id, span_us, downtime_us, n_gaps, budget_us,
       |  ROUND(CAST(downtime_us AS DOUBLE)
       |    / CAST(nullif(budget_us, 0) AS DOUBLE), 6) AS budget_consumed,
       |  downtime_us > budget_us AS exhausted
       |FROM j ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A67
  /** BUDGET-EXHAUSTION FORECAST — the question the A65 board raises
    * but does not answer: "at the burn rate observed so far, WHEN
    * does each device's error budget run out" (the SRE
    * freeze-the-release ETA; A60 forecasts capacity, THIS forecasts
    * the budget clock). Burn model is the honest zeroth-order one —
    * downtime accrues at its observed average rate downtime/span —
    * so eta_us = remaining_budget · span ∕ downtime; a device with
    * ZERO observed downtime has no measurable burn and reports a
    * NULL eta (never exhausts at current rate — a forecast, not a
    * promise), an exhausted device reports 0. The ETA denominates in
    * DAYS, not micros — partly because days are what a release
    * decision reads, mostly for §4 parity: at 1e13-µs magnitudes
    * round-at-6 stops being cross-engine-stable (the scaled value
    * exceeds 2⁵³), while day-scale keeps the rounded mantissa exact
    * in both engines. The division runs in DOUBLE on exact BIGINT
    * inputs ((b−d)·span overflows BIGINT at fleet spans; identical
    * IEEE tree both sides). Composition of A65's frame: one extra
    * projection, no new exchange. */
  def budgetEta(spark: SparkSession, sfDir: String,
      maxGapUs: Long = 43200000000L, slo: Double = 0.95): DataFrame = {
    import spark.implicits._
    errorBudget(spark, sfDir, maxGapUs, slo)
      .withColumn("eta_days",
        when($"exhausted", lit(0.0))
          .when($"downtime_us" === 0L, lit(null).cast("double"))
          .otherwise(round(
            ($"budget_us" - $"downtime_us").cast("double") *
              $"span_us".cast("double") /
              $"downtime_us".cast("double") / lit(86400000000.0), 6)))
      .withColumn("verdict",
        when($"exhausted", lit("exhausted"))
          .when($"downtime_us" === 0L, lit("healthy"))
          .otherwise(lit("burning")))
      .select($"user_id", $"span_us", $"downtime_us", $"budget_us",
        $"budget_consumed", $"eta_days", $"verdict")
      .orderBy($"user_id")
  }

  /** A67 oracle: A65's composition SQL plus the ETA projection. */
  def budgetEtaSql(maxGapUs: Long = 43200000000L,
      slo: Double = 0.95): String =
    s"""WITH eb AS (
       |${errorBudgetSql(maxGapUs, slo)}
       |)
       |SELECT user_id, span_us, downtime_us, budget_us, budget_consumed,
       |  CASE WHEN exhausted THEN 0.0
       |       WHEN downtime_us = 0 THEN NULL
       |       ELSE ROUND(CAST(budget_us - downtime_us AS DOUBLE)
       |         * CAST(span_us AS DOUBLE)
       |         / CAST(downtime_us AS DOUBLE) / 86400000000.0, 6)
       |  END AS eta_days,
       |  CASE WHEN exhausted THEN 'exhausted'
       |       WHEN downtime_us = 0 THEN 'healthy'
       |       ELSE 'burning' END AS verdict
       |FROM eb ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A42
  /** FLEET-ABSENCE report: registered devices that have NOT reported
    * within the trailing `recentUs` window (default 24 h) of the
    * fleet's latest event — the last uncovered reference behavior:
    * check_connect.sh:3 looks up a KNOWN device's stream and restart.sh
    * escalates when it is absent, while A40 only sees silence BETWEEN a
    * device's own events — a stream that died for good (or never came
    * up after a deploy) produces no closing event and is invisible to
    * it. Registration (= first event, A1's registry definition) and
    * last-seen both come from ONE map-side-partial min/max-struct
    * aggregation over the events scan — semantically the registry
    * ANTI-JOINED against recent events ("no event in window" ⟺
    * "last event before cutoff") but with one exchange and no join.
    * "Now" derives from the tiny per-device frame, never a second
    * corpus scan. */
  def neverReported(spark: SparkSession, sfDir: String,
      recentUs: Long = 86400000000L): DataFrame = {
    import spark.implicits._
    require(recentUs > 0, s"recentUs $recentUs must be positive")
    val perDev = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(min(struct($"ts", $"event_id")).as("first"),
        max(struct($"ts", $"event_id", $"event_type")).as("last"))
      .select($"user_id",
        expr("unix_micros(first.ts)").as("registered_us"),
        $"first.event_id".as("stream_id"),
        expr("unix_micros(last.ts)").as("last_seen_us"),
        $"last.event_id".as("last_event_id"),
        $"last.event_type".as("last_status"))
    val now = perDev.agg(max($"last_seen_us").as("now_us"))
    perDev.crossJoin(broadcast(now))
      .filter($"last_seen_us" <= $"now_us" - recentUs)
      .select($"user_id", $"registered_us", $"stream_id", $"last_seen_us",
        $"last_event_id", $"last_status",
        ($"now_us" - $"last_seen_us").as("silent_us"))
      .orderBy($"user_id")
  }

  def neverReportedSql(recentUs: Long = 86400000000L): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type
       |  FROM events),
       |f AS (
       |  SELECT user_id, us AS registered_us, event_id AS stream_id,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY us, event_id) AS rn
       |  FROM e),
       |l AS (
       |  SELECT user_id, us AS last_seen_us, event_id AS last_event_id,
       |    event_type AS last_status,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY us DESC, event_id DESC) AS rn
       |  FROM e),
       |n AS (SELECT max(us) AS now_us FROM e)
       |SELECT f.user_id, f.registered_us, f.stream_id, l.last_seen_us,
       |  l.last_event_id, l.last_status,
       |  n.now_us - l.last_seen_us AS silent_us
       |FROM f JOIN l USING (user_id), n
       |WHERE f.rn = 1 AND l.rn = 1
       |  AND l.last_seen_us <= n.now_us - $recentUs
       |ORDER BY f.user_id""".stripMargin

  // ---------------------------------------------------------------- A44
  /** FLAP detection: devices whose health TOGGLES repeatedly within a
    * day — the failure mode the reference's own remediation ladder can
    * CAUSE (restart.sh power-cycles and reboots on failure; a
    * marginal device then oscillates up↔down, and neither a
    * consecutive-failure run (A5) nor a burn rate (A38) flags a series
    * that never stays down). A transition is err↔ok between
    * consecutive events per device (one lag window — single exchange
    * on user_id), attributed to the later event's calendar day;
    * device-days with ≥ `minFlaps` transitions surface. Map-side
    * partials combine the per-(device, day) counts before the tiny
    * second exchange. */
  def statusFlaps(spark: SparkSession, sfDir: String,
      minFlaps: Int = 4): DataFrame =
    statusFlapsOf(Tables.events(spark, sfDir), minFlaps)

  /** A44 over an arbitrary events frame (spec entry — plant a toggling
    * series): needs (user_id, ts, event_id, event_type). */
  def statusFlapsOf(events: DataFrame, minFlaps: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(minFlaps >= 1, s"minFlaps $minFlaps must be >= 1")
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    events
      .select($"user_id", expr(tsUs).as("us"), $"event_id",
        ($"event_type" === "error").as("err"))
      .withColumn("perr", lag($"err", 1).over(w))
      .withColumn("day", expr("us div 86400000000"))
      .groupBy($"user_id", $"day")
      .agg(sum(when($"perr".isNotNull && $"perr" =!= $"err", 1L)
          .otherwise(0L)).as("n_flips"),
        count(lit(1)).as("n_events"))
      .filter($"n_flips" >= minFlaps)
      .select($"user_id", ($"day" * 86400000000L).as("day_us"),
        $"n_flips", $"n_events")
      .orderBy($"user_id", $"day_us")
  }

  def statusFlapsSql(minFlaps: Int = 4): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id,
       |    (event_type = 'error') AS err
       |  FROM events),
       |l AS (
       |  SELECT user_id, us, err,
       |    lag(err) OVER (PARTITION BY user_id ORDER BY us, event_id) AS perr,
       |    us // 86400000000 AS day
       |  FROM e),
       |f AS (
       |  SELECT user_id, day,
       |    SUM(CASE WHEN perr IS NOT NULL AND perr <> err THEN 1 ELSE 0 END) AS n_flips,
       |    COUNT(*) AS n_events
       |  FROM l GROUP BY user_id, day)
       |SELECT user_id, day * 86400000000 AS day_us,
       |  CAST(n_flips AS BIGINT) AS n_flips, n_events
       |FROM f WHERE n_flips >= $minFlaps
       |ORDER BY user_id, day_us""".stripMargin

  def heartbeatGapsSql(maxGapUs: Long = 43200000000L): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id,
       |    lag(epoch_us(ts)) OVER w AS prev_us,
       |    lag(event_id) OVER w AS prev_id
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
       |SELECT user_id, prev_us AS gap_start_us, us AS gap_end_us,
       |  us - prev_us AS gap_us,
       |  prev_id AS last_event_id, event_id AS next_event_id
       |FROM e
       |WHERE prev_us IS NOT NULL AND us - prev_us > $maxGapUs
       |ORDER BY user_id, gap_start_us, next_event_id""".stripMargin

  // ---------------------------------------------------------------- A26
  /** Rate of change of per-minute metric sums per device: minute-over-
    * minute delta and percent change (the "did throughput fall off a
    * cliff" question behind the PutMedia.Success Sum probe,
    * putmedia_check.sh:10-37 — the reference alerts on the absolute
    * level; the delta/pct view is what its operator reads off the
    * CloudWatch chart). Decimal
    * per-minute sums (order-free), one shuffle on device, LAG over the
    * per-device timeline; deltas surface as COALESCEd doubles so the
    * first minute is 0, not NULL (cross-engine hash stability). */
  def rateOfChange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perMinute = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id", date_trunc("minute", $"ts").as("w"))
      .agg(sum($"value".cast("decimal(18,4)")).as("m"))
    val timeline = Window.partitionBy($"user_id").orderBy($"w")
    perMinute
      .withColumn("prev", lag($"m", 1).over(timeline))
      .select($"user_id", expr("unix_micros(w)").as("window_us"),
        $"m".cast("double").as("metric_sum"),
        coalesce(($"m" - $"prev").cast("double"), lit(0.0)).as("delta"),
        // zero/NULL prev → 0.0 (a metric can legitimately sum to 0 in a
        // minute; ANSI mode would otherwise raise DIVIDE_BY_ZERO)
        when($"prev".isNull || $"prev" === 0, lit(0.0))
          .otherwise(($"m" - $"prev").cast("double") / $"prev".cast("double"))
          .as("pct_change"))
      .orderBy($"user_id", $"window_us")
  }

  val rateOfChangeSql: String =
    """WITH pm AS (
      |  SELECT user_id, date_trunc('minute', ts) AS w,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS m
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, date_trunc('minute', ts)),
      |d AS (
      |  SELECT user_id, w, m, LAG(m, 1) OVER tl AS prev
      |  FROM pm WINDOW tl AS (PARTITION BY user_id ORDER BY w))
      |SELECT user_id, epoch_us(w) AS window_us,
      |  CAST(m AS DOUBLE) AS metric_sum,
      |  COALESCE(CAST(m - prev AS DOUBLE), 0.0) AS delta,
      |  CASE WHEN prev IS NULL OR prev = 0 THEN 0.0
      |       ELSE CAST(m - prev AS DOUBLE) / CAST(prev AS DOUBLE)
      |  END AS pct_change
      |FROM d ORDER BY user_id, window_us""".stripMargin

  // ---------------------------------------------------------------- A29
  /** A10's scale path: top error devices through the Misra-Gries
    * heavy-hitters sketch — per-partition state is a hard ~8k-counter
    * bound (capacity = k · slack ≥ [[ApproxTopCounters]]) instead of
    * one counter per device, so the fleet can grow without growing the
    * aggregation (the "which gateways are failing most" question at
    * millions of devices).
    *
    * ORACLE CONTRACT (r8 verdict #5): while the distinct error-device
    * count stays UNDER the capacity, no MG compaction ever fires in
    * any partition buffer or merge, every est is the exact error
    * count, and the result is merge-order invariant — provably
    * identical to A10's exact SQL under the sketch's (est DESC,
    * user_id-as-string) tie-break. Every driver SF has 150 devices ≪
    * 8k, so this query is hash-gated there; past capacity the MG
    * error-bound spec (MonitoringSpec) is the contract instead. */
  val ApproxTopCounters: Int = 8192

  def topErrorDevicesApprox(spark: SparkSession, sfDir: String,
      k: Int = 5): DataFrame = {
    import spark.implicits._
    val slack = math.max(2, (ApproxTopCounters + k - 1) / k)
    Tables.events(spark, sfDir)
      .filter($"event_type" === "error")
      .select($"user_id".cast("string").as("dev"))
      .agg(graft.functions.AggFunctions.approxTopK($"dev", k, slack)
        .as("top"))
      .select(posexplode($"top").as(Seq("rank", "t")))
      .select(($"rank" + 1).as("rank"), $"t.word".as("user_id"), $"t.est")
  }

  /** A29's exact-regime oracle: A10's counts under the sketch's OWN
    * deterministic surface order — est DESC, then the device id AS A
    * STRING (the sketch keys on the stringified id, so "10" < "9"). */
  def topErrorDevicesApproxSql(k: Int = 5): String =
    s"""SELECT rank, user_id, est FROM (
       |  SELECT CAST(ROW_NUMBER() OVER (
       |      ORDER BY COUNT(*) DESC, CAST(user_id AS VARCHAR)) AS INT)
       |    AS rank,
       |    CAST(user_id AS VARCHAR) AS user_id,
       |    COUNT(*) AS est
       |  FROM events WHERE event_type = 'error'
       |  GROUP BY user_id) t
       |WHERE rank <= $k ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- A16
  /** Metric value distribution per event type: 10-bucket histogram on
    * [0, 600) via the custom TypedImperativeAggregate
    * ([[graft.functions.AggFunctions.HistogramAgg]]) — 80 bytes of
    * state per group regardless of row count. The bucket counts are
    * emitted as a JSON string (`"[c0,...,c9]"`) so the result is a flat
    * scalar column both engines hash identically. */
  def valueHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(to_json(graft.functions.AggFunctions
        .valueHistogram($"value", 10, 0.0, 600.0)).as("hist"))
      .orderBy($"event_type")
  }

  val valueHistogramSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    LEAST(GREATEST(CAST(FLOOR(value / 60.0) AS INT), 0), 9) AS bk
      |  FROM events),
      |c AS (SELECT event_type, bk, COUNT(*) AS cnt FROM b GROUP BY event_type, bk),
      |g AS (SELECT DISTINCT b.event_type, gs.bk
      |      FROM b, (SELECT unnest(generate_series(0, 9)) AS bk) gs),
      |f AS (SELECT g.event_type, g.bk, COALESCE(c.cnt, 0) AS cnt
      |      FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.bk = c.bk)
      |SELECT event_type,
      |  '[' || string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY bk) || ']' AS hist
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- A15
  /** As-of join: for every failure, the most recent strictly-earlier
    * successful operation on the same device (time-to-failure /
    * last-known-good analysis — the fragment-gap question behind
    * restart.sh's get_fragment_list probe).
    *
    * Spark lacks ASOF JOIN; rather than an O(n·m) range join, this is
    * the composition idiom: tag + union both sides, one sort per device
    * (single shuffle), carry the last success forward with
    * last(ignoreNulls) over an unbounded-preceding window. At equal
    * timestamps the failure sorts first, giving the strict `>` ASOF
    * semantics. Scales as one shuffle+sort keyed by device — the same
    * cost as any per-device window, independent of match distance. */
  def asofLastSuccess(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).withColumn("us", expr(tsUs))
    val fails = ev.filter($"event_type" === "error")
      .select($"user_id", $"us", $"event_id", lit(0).as("tag"),
        lit(null).cast("long").as("p_us"), lit(null).cast("double").as("p_value"))
    val succ = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"us", $"event_id", lit(1).as("tag"),
        $"us".as("p_us"), $"value".as("p_value"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"us", $"tag", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fails.unionByName(succ)
      .withColumn("last_p_us", last($"p_us", ignoreNulls = true).over(w))
      .withColumn("last_p_value", last($"p_value", ignoreNulls = true).over(w))
      .filter($"tag" === 0 && $"last_p_us".isNotNull)
      .select($"user_id", $"us".as("fail_us"), $"last_p_us".as("success_us"),
        ($"us" - $"last_p_us").as("gap_us"), $"last_p_value".as("success_value"))
      .orderBy($"user_id", $"fail_us")
  }

  val asofLastSuccessSql: String =
    """SELECT e.user_id, epoch_us(e.ts) AS fail_us, epoch_us(p.ts) AS success_us,
      |  epoch_us(e.ts) - epoch_us(p.ts) AS gap_us,
      |  p.value AS success_value
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON e.user_id = p.user_id AND e.ts > p.ts
      |ORDER BY e.user_id, fail_us""".stripMargin

  // ---------------------------------------------------------------- A30
  /** Per-device EWMA of the metric series — the smoothing behind
    * "is throughput trending down" that a flat window mean (A21)
    * answers too slowly: recent samples weigh exponentially more.
    * EWMA is inherently a SEQUENTIAL recurrence (s' = α·x + (1−α)·s),
    * so it cannot be a commutative aggregate; the scale-correct shape
    * is the A24 replay kernel ([[graft.streaming.HealthMonitor
    * .replaySorted]]): one shuffle keyed by device, sortWithinPartitions
    * fixes the order (tiebreak event_id → total order), and ONE
    * streaming forward pass folds each device's series with O(1) state
    * — a device's history NEVER materializes in memory, however hot
    * (round 6 shipped this as groupBy + collect_list + sort_array,
    * whose per-key buffer is O(series length): a per-second device
    * recorded for a year is 3×10⁷ boxed structs in one aggregation
    * buffer — the skewed-key blowup the rest of the repo avoids).
    * Fold order and arithmetic are unchanged — sortWithinPartitions
    * (us, event_id) visits values exactly as sort_array did and each
    * step is the same two-multiply IEEE tree — so DuckDB's
    * `list_reduce` over the identically-sorted list still replays the
    * same doubles bit-for-bit (the closed-form Σ α(1−α)ⁿ⁻ⁱxᵢ would
    * need overflowing (1−α)⁻ⁱ weights — a window formulation is
    * numerically impossible, the fold is the right operator). Seeded
    * by the FIRST sample (not 0 — a zero init biases short series). */
  def ewma(spark: SparkSession, sfDir: String,
      alpha: Double = 0.2): DataFrame =
    ewmaOf(Tables.events(spark, sfDir), alpha)

  /** The fold over an arbitrary events frame (columns user_id, ts,
    * event_id, value, event_type) — lets the spec plant one hot device
    * with a series orders of magnitude longer than its neighbors and
    * prove the skewed key streams instead of buffering. */
  def ewmaOf(events: DataFrame, alpha: Double = 0.2): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(alpha > 0 && alpha <= 1, s"alpha $alpha out of (0, 1]")
    events
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .select($"user_id", expr("unix_micros(ts)").as("us"),
        $"event_id", $"value")
      .as[(Long, Long, Long, Double)]
      .repartition($"user_id")
      .sortWithinPartitions($"user_id", $"us", $"event_id")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Double)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Long, Double) = {
            val (dev, _, _, v0) = buf.next()
            var n = 1L
            var s = v0
            while (buf.hasNext && buf.head._1 == dev) {
              val v = buf.next()._4
              n += 1
              s = alpha * v + (1 - alpha) * s
            }
            (dev, n, s)
          }
        }
      }
      .toDF("user_id", "n_events", "ewma")
      .select($"user_id", $"n_events".cast("int").as("n_events"), $"ewma")
      .orderBy($"user_id")
  }

  val ewmaSql: String =
    """WITH v AS (
      |  SELECT user_id,
      |    list(value ORDER BY epoch_us(ts), event_id) AS vals
      |  FROM events
      |  WHERE event_type = 'purchase' AND value IS NOT NULL
      |  GROUP BY user_id)
      |SELECT user_id, CAST(len(vals) AS INT) AS n_events,
      |  list_reduce(vals,
      |    (a, v) -> CAST(0.2 AS DOUBLE) * v + CAST(0.8 AS DOUBLE) * a)
      |    AS ewma
      |FROM v ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A36
  /** One-sided CUSUM change-point detector per device (Page's
    * cumulative-sum test): S₀ = 0, Sᵢ = max(0, Sᵢ₋₁ + (xᵢ − target −
    * slack)) — the classical small-persistent-shift detector that a
    * z-score (A31) misses (many samples each under kσ, all in the
    * same direction) and EWMA (A30) only answers indirectly. Emits
    * each device's final and maximum statistic plus the `alarm`
    * verdict (max exceeded the decision interval `h`). Same
    * scale shape as A30: one shuffle keyed by device,
    * sortWithinPartitions fixes the order, ONE streaming forward pass
    * with O(1) state per device — a hot device's history never
    * materializes. Oracle-checked: the fold is only +, −, and max
    * (greatest) — every step bit-identical in DuckDB's list_reduce
    * replay over the identically-sorted list; no transcendentals
    * anywhere. */
  def cusum(spark: SparkSession, sfDir: String, target: Double = 50.0,
      slack: Double = 2.5, h: Double = 200.0): DataFrame =
    cusumOf(Tables.events(spark, sfDir), target, slack, h)

  /** The fold over an arbitrary events frame — the spec plants a
    * mean-shifted segment and a hot device to pin detection and the
    * bounded-memory shape. */
  def cusumOf(events: DataFrame, target: Double = 50.0,
      slack: Double = 2.5, h: Double = 200.0): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(slack >= 0 && h > 0, s"need slack >= 0 (got $slack), h > 0 (got $h)")
    // the reference level folds once, driver-side: the per-sample step
    // must be v - REF (one subtraction) in BOTH engines, not
    // v - target - slack (two), or the IEEE trees diverge
    val ref = target + slack
    events
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .select($"user_id", expr("unix_micros(ts)").as("us"),
        $"event_id", $"value")
      .as[(Long, Long, Long, Double)]
      .repartition($"user_id")
      .sortWithinPartitions($"user_id", $"us", $"event_id")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Double, Double)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Long, Double, Double) = {
            val dev = buf.head._1
            var n = 0L
            var s = 0.0
            var m = 0.0
            while (buf.hasNext && buf.head._1 == dev) {
              val v = buf.next()._4
              n += 1
              s = math.max(0.0, s + (v - ref))
              m = math.max(m, s)
            }
            (dev, n, s, m)
          }
        }
      }
      .toDF("user_id", "n_events", "cusum_final", "cusum_max")
      .select($"user_id", $"n_events".cast("int").as("n_events"),
        $"cusum_final", $"cusum_max", ($"cusum_max" > h).as("alarm"))
      .orderBy($"user_id")
  }

  def cusumSql(target: Double = 50.0, slack: Double = 2.5,
      h: Double = 200.0): String = {
    val ref = target + slack
    s"""WITH v AS (
       |  SELECT user_id, list(value ORDER BY epoch_us(ts), event_id) AS vals
       |  FROM events
       |  WHERE event_type = 'purchase' AND value IS NOT NULL
       |  GROUP BY user_id),
       |f AS (
       |  SELECT user_id, CAST(len(vals) AS INT) AS n_events,
       |    -- (s, max) state rides as a 2-element LIST, not a struct:
       |    -- a struct-literal lambda in DuckDB 1.0 rebinds acc.<field>
       |    -- to the just-computed field for later fields (CSE across
       |    -- the literal), silently corrupting any state whose second
       |    -- component reads the first's PRE-update value — probed in
       |    -- round 7; list element expressions see the original acc
       |    list_reduce(
       |      list_prepend([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
       |        list_transform(vals, el -> [CAST(el AS DOUBLE), CAST(el AS DOUBLE)])),
       |      (acc, x) -> [greatest(CAST(0.0 AS DOUBLE), acc[1] + (x[1] - $ref)),
       |                   greatest(acc[2],
       |                     greatest(CAST(0.0 AS DOUBLE), acc[1] + (x[1] - $ref)))]) AS st
       |  FROM v)
       |SELECT user_id, n_events, st[1] AS cusum_final, st[2] AS cusum_max,
       |  st[2] > $h AS alarm
       |FROM f ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- A38
  /** SLO error-budget burn rate, multiwindow (the SRE fast/slow-burn
    * page rule): per device, each hour's error ratio over the SLO's
    * error budget (`burn = ratio / (1 − slo)`), paired with the
    * enclosing 6-hour window's burn — paging only when BOTH run hot
    * kills the single-spike false page while still catching a slow
    * leak hours before the budget is gone. The reference's fixed
    * failure count (restart.sh's escalation) can express neither.
    * Scale shape: ONE events scan into the hourly aggregate
    * (map-side partial, exchange bounded by device×hours), PINNED
    * because the 6-hour rollup and the final join both read it (the
    * tfidf/boilerplate reuse rule); the 6-hour frame derives from the
    * pinned hourly frame — 6× smaller again — and joins back
    * broadcast-or-tiny. Output keeps only hours that consumed budget
    * faster than earned (`burn_1h > 1`). All arithmetic is counts and
    * two IEEE divisions, bit-identical cross-engine; cuts compare
    * UNROUNDED values, rounding is display-only. */
  def burnRate(spark: SparkSession, sfDir: String, slo: Double = 0.8,
      fast: Double = 1.5, slow: Double = 1.2): DataFrame =
    burnRateOf(Tables.events(spark, sfDir), slo, fast, slow)

  def burnRateOf(events: DataFrame, slo: Double = 0.8,
      fast: Double = 1.5, slow: Double = 1.2): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(slo > 0 && slo < 1, s"slo $slo out of (0, 1)")
    val budget = 1.0 - slo
    val b1 = events
      .groupBy($"user_id", expr("unix_micros(ts) div 3600000000").as("hb"))
      .agg(count(when($"event_type" === "error", 1)).as("errors"),
        count(lit(1)).as("total"))
      .localCheckpoint(true)
    // b6 derives from the SAME pinned frame b1 joins against — rename
    // its keys so the self-join is unambiguous
    val b6 = b1.groupBy($"user_id".as("user_id6"), expr("hb div 6").as("hb6"))
      .agg(sum($"errors").as("errors6"), sum($"total").as("total6"))
    b1.join(b6, $"user_id" === $"user_id6" && expr("hb div 6") === $"hb6")
      .withColumn("burn_1h", ($"errors".cast("double") / $"total") / budget)
      .withColumn("burn_6h", ($"errors6".cast("double") / $"total6") / budget)
      .filter($"burn_1h" > 1.0)
      .select($"user_id", ($"hb" * 3600000000L).as("window_us"),
        $"errors".as("errors_1h"), $"total".as("total_1h"),
        round($"burn_1h", 6).as("burn_1h"),
        round($"burn_6h", 6).as("burn_6h"),
        ($"burn_1h" > fast && $"burn_6h" > slow).as("paged"))
      .orderBy($"user_id", $"window_us")
  }

  def burnRateSql(slo: Double = 0.8, fast: Double = 1.5,
      slow: Double = 1.2): String = {
    val budget = 1.0 - slo
    s"""WITH b1 AS (
       |  SELECT user_id, epoch_us(ts) // 3600000000 AS hb,
       |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       |    COUNT(*) AS total
       |  FROM events GROUP BY 1, 2),
       |b6 AS (
       |  SELECT user_id, hb // 6 AS hb6,
       |    CAST(SUM(errors) AS BIGINT) AS errors6,
       |    CAST(SUM(total) AS BIGINT) AS total6
       |  FROM b1 GROUP BY 1, 2),
       |j AS (
       |  SELECT b1.user_id, b1.hb, b1.errors, b1.total,
       |    (CAST(b1.errors AS DOUBLE) / b1.total) / $budget AS burn_1h,
       |    (CAST(b6.errors6 AS DOUBLE) / b6.total6) / $budget AS burn_6h
       |  FROM b1 JOIN b6 ON b1.user_id = b6.user_id AND b1.hb // 6 = b6.hb6)
       |SELECT user_id, hb * 3600000000 AS window_us,
       |  errors AS errors_1h, total AS total_1h,
       |  ROUND(burn_1h, 6) AS burn_1h, ROUND(burn_6h, 6) AS burn_6h,
       |  burn_1h > $fast AND burn_6h > $slow AS paged
       |FROM j WHERE burn_1h > 1.0
       |ORDER BY user_id, window_us""".stripMargin
  }

  // ---------------------------------------------------------------- A34
  /** Seasonality-aware deviation: each (device, hourly window) metric
    * sum compared to the device's SAME-HOUR-OF-DAY baseline — traffic
    * that is normal at 14:00 is an incident at 03:00, which a global
    * mean (A31) or a fixed level (the reference) cannot express. Two
    * aggregations (hourly sums, then per-(device, hour-of-day) means
    * over them — both decimal order-free, both map-side partial) and
    * one broadcast join back of the tiny baseline frame; the ratio is
    * the identical IEEE division in both engines. Flags windows
    * deviating beyond `k`× (or below 1/k×) their slot baseline;
    * emitted only when the slot has ≥ 2 windows of history (a
    * single-window baseline is its own window — ratio 1 by
    * construction, never a signal). */
  def seasonalDeviation(spark: SparkSession, sfDir: String,
      k: Double = 1.5): DataFrame =
    seasonalDeviationOf(Tables.events(spark, sfDir), k)

  /** Per-(device, hourly window) metric sums with the window's
    * hour-of-day tag — the shared first aggregation of the batch
    * detector and the baseline builder. */
  def hourlySums(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter($"event_type" === "purchase")
      .groupBy($"user_id", date_trunc("hour", $"ts").as("w"))
      .agg(sum($"value".cast("decimal(18,4)")).as("m"))
      .select($"user_id", $"w", hour($"w").as("hod"), $"m")
  }

  /** The per-(device, hour-of-day) BASELINE table: mean hourly metric
    * sum per slot, slots with < 2 windows of history withheld (a
    * single-window baseline is its own window — never a signal). This
    * is the frame a production deployment persists nightly and serves
    * to the live stream ([[graft.streaming.StreamingAggs
    * .seasonalDeviationStream]]) as a stream-static broadcast join —
    * one definition of "baseline", shared verbatim by the batch
    * detector, so the two can never disagree about normal. */
  def seasonalBaseline(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    hourlySums(events).groupBy($"user_id", $"hod")
      .agg((sum($"m").cast("double") / count(lit(1))).as("baseline"),
        count(lit(1)).as("n_windows"))
      .filter($"n_windows" >= 2)
  }

  /** The fold over an arbitrary events frame — lets the streaming
    * parity spec run the batch detector on exactly the history it
    * replays. */
  def seasonalDeviationOf(events: DataFrame, k: Double = 1.5): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(k > 1, s"deviation factor $k must exceed 1")
    val hourly = hourlySums(events)
    hourly.join(seasonalBaseline(events), Seq("user_id", "hod"))
      .withColumn("metric_sum", $"m".cast("double"))
      .withColumn("ratio", $"metric_sum" / $"baseline")
      .filter($"ratio" > k || $"ratio" * k < 1.0)
      .select($"user_id", expr("unix_micros(w)").as("window_us"), $"hod",
        $"metric_sum", $"baseline", round($"ratio", 6).as("ratio"))
      .orderBy($"user_id", $"window_us")
  }

  val seasonalDeviationSql: String =
    """WITH h AS (
      |  SELECT user_id, date_trunc('hour', ts) AS w,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS m
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, date_trunc('hour', ts)),
      |hh AS (SELECT user_id, w, EXTRACT(hour FROM w) AS hod, m FROM h),
      |b AS (
      |  SELECT user_id, hod,
      |    CAST(SUM(m) AS DOUBLE) / COUNT(*) AS baseline
      |  FROM hh GROUP BY user_id, hod HAVING COUNT(*) >= 2)
      |SELECT hh.user_id, epoch_us(hh.w) AS window_us,
      |  CAST(hh.hod AS INT) AS hod,
      |  CAST(hh.m AS DOUBLE) AS metric_sum, b.baseline,
      |  ROUND(CAST(hh.m AS DOUBLE) / b.baseline, 6) AS ratio
      |FROM hh JOIN b ON hh.user_id = b.user_id AND hh.hod = b.hod
      |WHERE CAST(hh.m AS DOUBLE) / b.baseline > 1.5
      |   OR CAST(hh.m AS DOUBLE) / b.baseline * 1.5 < 1.0
      |ORDER BY hh.user_id, window_us""".stripMargin

  // ---------------------------------------------------------------- A31
  /** Per-device z-score outliers: flag metric samples more than
    * `k` standard deviations from THEIR device's mean — the
    * adaptive-threshold alternative to putmedia_check.sh's fixed
    * alarm level (a chatty device's normal burst is another device's
    * anomaly). Two passes, both scale-shaped: per-device moments from
    * order-free DECIMAL sums (one shuffle, map-side partials), then
    * the tiny stats frame joins back (AQE broadcasts it — a map-side
    * filter over the events scan, no second events shuffle). μ, σ,
    * and the verdict are the identical IEEE tree in both engines, so
    * the strict `>` cut picks the same rows bit-for-bit. */
  def zscoreOutliers(spark: SparkSession, sfDir: String,
      k: Double = 2.0): DataFrame =
    zscoreOutliersOf(Tables.events(spark, sfDir), k)

  /** A31 over an arbitrary events frame (spec entry + the A45b
    * candidate generator's screen): needs (user_id, ts, event_id,
    * event_type, value). */
  def zscoreOutliersOf(events: DataFrame, k: Double = 2.0): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(k > 0, s"threshold $k must be positive")
    val ev = events
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .select($"user_id", expr("unix_micros(ts)").as("us"),
        $"event_id", $"value")
    val stats = ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,4)")).cast("double").as("sx"),
        sum($"value".cast("decimal(18,4)") * $"value".cast("decimal(18,4)"))
          .cast("double").as("sxx"))
      .select($"user_id", $"n", ($"sx" / $"n").as("mu"),
        // clamp before the sqrt: double rounding of sx·sx/n can push a
        // degenerate (single-sample / near-constant) device's variance
        // a few ulp NEGATIVE — Spark's sqrt would yield NaN (silently
        // dropping the device from the strict > cut) while DuckDB's
        // sqrt ERRORS the whole oracle query. greatest(·, 0.0) is the
        // same IEEE op in both engines, so parity is preserved.
        sqrt(greatest(($"sxx" - $"sx" * $"sx" / $"n") / $"n", lit(0.0)))
          .as("sigma"))
    ev.join(stats, "user_id")
      .filter(abs($"value" - $"mu") > lit(k) * $"sigma")
      .select($"user_id", $"event_id", $"us", $"value", $"mu", $"sigma")
      .orderBy($"user_id", $"event_id")
  }

  val zscoreOutliersSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, value
      |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
      |m AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
      |  FROM e GROUP BY user_id),
      |s AS (
      |  SELECT user_id, sx / n AS mu,
      |    -- greatest: a few-ulp-negative rounded variance would ERROR
      |    -- DuckDB's sqrt (Spark NaNs) — same clamp as the Spark side
      |    sqrt(greatest((sxx - sx * sx / n) / n, 0.0)) AS sigma
      |  FROM m)
      |SELECT e.user_id, e.event_id, e.us, e.value, s.mu, s.sigma
      |FROM e JOIN s USING (user_id)
      |WHERE abs(e.value - s.mu) > 2.0 * s.sigma
      |ORDER BY e.user_id, e.event_id""".stripMargin

  // ---------------------------------------------------------------- A45
  /** CROSS-DEVICE correlation: which devices' hourly metric series move
    * together — the fleet-diagnosis query behind "did these cameras
    * degrade from the same cause?" (a correlated pair shares a switch,
    * a power rail, a firmware rollout; an uncorrelated failure is
    * device-local). Pearson over aligned hourly buckets, from the B26
    * decimal-exact moment kernel: hourly value sums as DECIMAL(18,4)
    * (order-independent), pair moments as exact decimal sums rescaled
    * to scale 4 BEFORE the double cast (significand < 2⁵³ → both
    * engines convert exactly), the textbook formula once per pair in
    * double — the identical IEEE tree DuckDB runs.
    *
    * Scale: all-pairs over a 100 TB fleet is quadratic — the operator
    * correlates a bounded PANEL (top `panel` devices by event volume,
    * deterministic tiebreak on device id; the fleet-wide screen at
    * scale is this same query fed by a candidate generator, e.g. the
    * A31/A36 anomaly sets). The hourly rollup is the only full-data
    * shuffle; the panel filter is a broadcast semi-join; the pair join
    * keys on the hour bucket with ≤ panel rows per side per hour. */
  def crossCorr(spark: SparkSession, sfDir: String, panel: Int = 24,
      minBuckets: Long = 24): DataFrame =
    crossCorrOf(Tables.events(spark, sfDir), panel, minBuckets)

  /** A45 over an arbitrary events frame (spec entry — plant correlated
    * series): needs (user_id, ts, value). Pearson over aligned 6-hour
    * buckets; pairs sharing fewer than `minBuckets` are dropped (too
    * little overlap to call a correlation). */
  def crossCorrOf(events: DataFrame, panel: Int, minBuckets: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(panel >= 2, s"panel $panel must be >= 2")
    val top = events
      .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"user_id").limit(panel)
      .select($"user_id")
    crossCorrKernel(events, top, minBuckets)
  }

  /** The shared A45 Pearson kernel over an arbitrary bounded device
    * PANEL — one definition for every candidate generator (top-volume
    * in [[crossCorrOf]], the A31/A36 anomaly sets in
    * [[crossCorrAnomaliesOf]]), so the correlation math cannot drift
    * between them. `panelDevices` must be a bounded one-column
    * (user_id) frame — it broadcasts. */
  private def crossCorrKernel(events: DataFrame, panelDevices: DataFrame,
      minBuckets: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(minBuckets >= 2, s"minBuckets $minBuckets must be >= 2")
    // 6-hour buckets: coarse enough that sparse per-device series still
    // align on shared buckets, fine enough to carry diurnal structure
    val hourly = events
      .filter($"value".isNotNull)
      .groupBy($"user_id", expr("unix_micros(ts) div 21600000000").as("bucket"))
      .agg(sum($"value".cast("decimal(18,4)")).cast("decimal(18,4)").as("hv"))
    val h = hourly.join(broadcast(panelDevices.select($"user_id")), "user_id")
    val pairs = h.as("a").join(h.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.user_id" < $"b.user_id")
      .groupBy($"a.user_id".as("device_a"), $"b.user_id".as("device_b"))
      .agg(count(lit(1)).as("n_buckets"),
        sum($"a.hv").cast("decimal(38,4)").cast("double").as("sx"),
        sum($"b.hv").cast("decimal(38,4)").cast("double").as("sy"),
        sum($"a.hv" * $"b.hv").cast("decimal(38,4)").cast("double").as("sxy"),
        sum($"a.hv" * $"a.hv").cast("decimal(38,4)").cast("double").as("sxx"),
        sum($"b.hv" * $"b.hv").cast("decimal(38,4)").cast("double").as("syy"))
      .filter($"n_buckets" >= minBuckets)
    pairs
      .withColumn("varx", greatest($"n_buckets" * $"sxx" - $"sx" * $"sx", lit(0.0)))
      .withColumn("vary", greatest($"n_buckets" * $"syy" - $"sy" * $"sy", lit(0.0)))
      // zero-variance series (constant hourly sums) have no defined
      // correlation — drop the pair on BOTH engines rather than emit
      // engine-dependent NaN/inf division results
      .filter($"varx" > 0.0 && $"vary" > 0.0)
      .select($"device_a", $"device_b", $"n_buckets",
        (($"n_buckets" * $"sxy" - $"sx" * $"sy") /
          (sqrt($"varx") * sqrt($"vary"))).as("corr_hv"))
      .orderBy($"device_a", $"device_b")
  }

  def crossCorrSql(panel: Int = 24, minBuckets: Long = 24): String =
    s"""WITH hourly AS (
       |  SELECT user_id, epoch_us(ts) // 21600000000 AS bucket,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS hv
       |  FROM events WHERE value IS NOT NULL
       |  GROUP BY user_id, epoch_us(ts) // 21600000000),
       |top AS (
       |  SELECT user_id FROM events GROUP BY user_id
       |  ORDER BY COUNT(*) DESC, user_id LIMIT $panel),
       |h AS (SELECT hourly.* FROM hourly SEMI JOIN top USING (user_id)),
       |m AS (
       |  SELECT a.user_id AS device_a, b.user_id AS device_b,
       |    COUNT(*) AS n_buckets,
       |    CAST(CAST(SUM(a.hv) AS DECIMAL(38,4)) AS DOUBLE) AS sx,
       |    CAST(CAST(SUM(b.hv) AS DECIMAL(38,4)) AS DOUBLE) AS sy,
       |    CAST(CAST(SUM(a.hv * b.hv) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
       |    CAST(CAST(SUM(a.hv * a.hv) AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
       |    CAST(CAST(SUM(b.hv * b.hv) AS DECIMAL(38,4)) AS DOUBLE) AS syy
       |  FROM h a JOIN h b ON a.bucket = b.bucket AND a.user_id < b.user_id
       |  GROUP BY a.user_id, b.user_id
       |  HAVING COUNT(*) >= $minBuckets),
       |v AS (
       |  SELECT *, greatest(n_buckets * sxx - sx * sx, 0.0) AS varx,
       |    greatest(n_buckets * syy - sy * sy, 0.0) AS vary
       |  FROM m)
       |SELECT device_a, device_b, n_buckets,
       |  (n_buckets * sxy - sx * sy) / (sqrt(varx) * sqrt(vary)) AS corr_hv
       |FROM v WHERE varx > 0.0 AND vary > 0.0
       |ORDER BY device_a, device_b""".stripMargin

  // ---------------------------------------------------------------- A68
  /** TIME-SERIES SIMILARITY SEARCH — the retrieval shape A45 is not
    * (EDBT'19's streaming-series search problem, batch form): A45
    * screens a bounded PANEL all-pairs ("did these degrade
    * together"); THIS takes ONE query device and ranks the whole
    * fleet by series similarity ("which devices behave like this
    * one" — the triage question after an incident names a culprit).
    * Cost is fleet × 1, not panel², so no panel cap is needed.
    * Similarity is Pearson over the SAME aligned 6-hour decimal
    * bucket sums as A45 (one definition of the series, shared
    * upstream); for z-normalized series the distance identity
    * dist_z = √(2·(1−r)) makes the correlation ranking EXACTLY the
    * z-distance ranking, and the report carries both columns.
    *
    * Query selection is deterministic: the top-volume device by
    * OBSERVED SAMPLES (count desc, id — read off the hourly frame
    * itself, not a second corpus scan; value-null events never enter
    * the series, so they never pick its query either); `Of` takes
    * any query frame. Scale: bucket sums are one exchange; the query
    * series (≤ windows buckets) BROADCASTS into every candidate's
    * partition — the brute-ANN query-side-broadcast shape on series;
    * top-k is orderBy+limit = TakeOrdered bounded heaps. Oracle: sums
    * ride DECIMAL (order-free), the closing arithmetic is IEEE-only
    * (sqrt is correctly rounded by the standard), so the unrounded
    * doubles agree and the 6-decimal display rounding is safe. */
  def seriesSearch(spark: SparkSession, sfDir: String, k: Int = 10,
      minBuckets: Long = 24): DataFrame =
    seriesSearchOf(Tables.events(spark, sfDir), k, minBuckets)

  def seriesSearchOf(events: DataFrame, k: Int,
      minBuckets: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(k >= 1, s"k $k must be >= 1")
    require(minBuckets >= 2, s"minBuckets $minBuckets must be >= 2")
    // ONE corpus exchange: the bucket agg also carries the sample
    // count, so the query-device choice (most observed samples) reads
    // the fleet-bounded hourly frame instead of re-scanning events
    // (the r13 nit — a second full scan for one argmax)
    val hourly0 = events
      .filter($"value".isNotNull)
      .groupBy($"user_id",
        expr("unix_micros(ts) div 21600000000").as("bucket"))
      .agg(sum($"value".cast("decimal(18,4)")).cast("decimal(18,4)")
        .as("hv"), count(lit(1)).as("n"))
    val hourly = hourly0.select($"user_id", $"bucket", $"hv")
    val qDev = hourly0
      .groupBy($"user_id").agg(sum($"n").as("cnt"))
      .orderBy($"cnt".desc, $"user_id").limit(1)
      .select($"user_id")
    val q = hourly.join(broadcast(qDev), Seq("user_id"))
      .select($"user_id".as("query_device"), $"bucket", $"hv".as("qv"))
    hourly.join(broadcast(q), Seq("bucket"))
      .filter($"user_id" =!= $"query_device")
      .groupBy($"query_device", $"user_id".as("device"))
      .agg(count(lit(1)).as("n_buckets"),
        sum($"qv").cast("decimal(38,4)").cast("double").as("sx"),
        sum($"hv").cast("decimal(38,4)").cast("double").as("sy"),
        sum($"qv" * $"hv").cast("decimal(38,4)").cast("double").as("sxy"),
        sum($"qv" * $"qv").cast("decimal(38,4)").cast("double").as("sxx"),
        sum($"hv" * $"hv").cast("decimal(38,4)").cast("double").as("syy"))
      .filter($"n_buckets" >= minBuckets)
      .withColumn("varx",
        greatest($"n_buckets" * $"sxx" - $"sx" * $"sx", lit(0.0)))
      .withColumn("vary",
        greatest($"n_buckets" * $"syy" - $"sy" * $"sy", lit(0.0)))
      .filter($"varx" > 0.0 && $"vary" > 0.0)
      // dist derives from the ROUNDED corr — the engine-portable
      // handoff value both engines print (the C62 rule)
      .withColumn("corr_hv",
        round(($"n_buckets" * $"sxy" - $"sx" * $"sy") /
          (sqrt($"varx") * sqrt($"vary")), 6))
      .select($"query_device", $"device", $"n_buckets", $"corr_hv",
        round(sqrt(greatest(lit(2.0) * (lit(1.0) - $"corr_hv"),
          lit(0.0))), 6).as("dist_z"))
      .orderBy($"corr_hv".desc, $"device")
      .limit(k)
  }

  def seriesSearchSql(k: Int = 10, minBuckets: Long = 24): String =
    s"""WITH hourly AS (
       |  SELECT user_id, epoch_us(ts) // 21600000000 AS bucket,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS hv
       |  FROM events WHERE value IS NOT NULL
       |  GROUP BY user_id, epoch_us(ts) // 21600000000),
       |qd AS (
       |  SELECT user_id FROM events WHERE value IS NOT NULL
       |  GROUP BY user_id
       |  ORDER BY COUNT(*) DESC, user_id LIMIT 1),
       |q AS (
       |  SELECT hourly.user_id AS query_device, bucket, hv AS qv
       |  FROM hourly JOIN qd USING (user_id)),
       |m AS (
       |  SELECT q.query_device, h.user_id AS device,
       |    COUNT(*) AS n_buckets,
       |    CAST(CAST(SUM(q.qv) AS DECIMAL(38,4)) AS DOUBLE) AS sx,
       |    CAST(CAST(SUM(h.hv) AS DECIMAL(38,4)) AS DOUBLE) AS sy,
       |    CAST(CAST(SUM(q.qv * h.hv) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
       |    CAST(CAST(SUM(q.qv * q.qv) AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
       |    CAST(CAST(SUM(h.hv * h.hv) AS DECIMAL(38,4)) AS DOUBLE) AS syy
       |  FROM hourly h JOIN q ON h.bucket = q.bucket
       |    AND h.user_id <> q.query_device
       |  GROUP BY q.query_device, h.user_id
       |  HAVING COUNT(*) >= $minBuckets),
       |v AS (
       |  SELECT *, greatest(n_buckets * sxx - sx * sx, 0.0) AS varx,
       |    greatest(n_buckets * syy - sy * sy, 0.0) AS vary
       |  FROM m),
       |c AS (
       |  SELECT query_device, device, n_buckets,
       |    ROUND((n_buckets * sxy - sx * sy) /
       |      (sqrt(varx) * sqrt(vary)), 6) AS corr_hv
       |  FROM v WHERE varx > 0.0 AND vary > 0.0)
       |SELECT query_device, device, n_buckets, corr_hv,
       |  ROUND(sqrt(greatest(2.0 * (1.0 - corr_hv), 0.0)), 6) AS dist_z
       |FROM c ORDER BY corr_hv DESC, device LIMIT $k""".stripMargin

  // ---------------------------------------------------------------- A69
  /** ALARM VERIFICATION — the EDBT'18 alarm-verification shape
    * (stream processing + ML + text analytics) on this repo's own
    * kernels: most alert floods are transient, and an on-call rotation
    * drowns unless something predicts WHICH alarms are real. Alarms
    * are A8's all-error device-hours; the LABEL comes from the data
    * itself — an alarm is real iff the failure PERSISTED into the
    * next hour (at least one more error), transient iff the device
    * recovered; the FEATURES are the window's own event text (type +
    * prop tokens, in event-time order) through the C60 hashed-bigram
    * NB kernel — one classifier kernel for corpus quality, language
    * ID, and now alarm triage. Train on the past, score the future:
    * the split is a time cutoff at the `trainFrac` quantile of alarm
    * hours, so no held-out alarm leaks its own outcome into training.
    *
    * Scale: TWO events scans, stated plainly — scan one builds the
    * device-hour failure/success aggregates (alarms + labels); scan
    * two rebuilds window text, PRUNED to alarm hours by a broadcast
    * semi-join against the alarm frame BEFORE the collect_list (the
    * C12 shape), so the text exchange carries only the rare alarm
    * windows, never the corpus. Text is one doc-keyed collect_list
    * sorted in-row (the E28 determinism move); train is the C60
    * ≤nBuckets collect; serving is the dense codegen'd gather. The
    * verdict frame is cached per corpus version (the D8/C54
    * audit-artifact discipline) so the report and curve siblings read
    * it instead of re-running train+serve. Rows-only: the
    * time-quantile split + hashed features are implementation-defined
    * (C60's served entries' reason); the spec plants a signal corpus
    * the kernel must learn and the driver entry records the live
    * verdicts. */
  def alarmVerify(spark: SparkSession, sfDir: String,
      trainFrac: Double = 0.7, nBuckets: Int = 1024): DataFrame = {
    import spark.implicits._
    cachedAlarmVerdicts(spark, sfDir, trainFrac, nBuckets)
      .orderBy($"user_id", $"hour_us")
  }

  /** The VERDICT FRAME per corpus version (the D8/C54 audit-artifact
    * discipline): train+serve runs ONCE per (corpus stamp, params) —
    * the report and curve siblings read the pinned frame instead of
    * re-running the dominant cost. Pinned rows = held-out ALARM hours
    * only (all-error device-hours, rare by construction) — never
    * corpus-sized; stale corpus versions are evicted and unpinned
    * exactly as [[Similarity]]'s exactBaselineCache. */
  private val alarmVerdictCache = new StampedCache[(Double, Int),
    (DataFrame, Long)](v => Tables.unpinCheckpoint(v._1))

  private def cachedAlarmVerdicts(spark: SparkSession, sfDir: String,
      trainFrac: Double, nBuckets: Int): DataFrame = {
    val stamp = Tables.pathStamp(spark, s"$sfDir/events.parquet")
    alarmVerdictCache(sfDir, stamp, (trainFrac, nBuckets)) {
      // serve from the CACHED model — the bundle writer and every
      // curve/report sibling share ONE train per (corpus, params)
      val docs = alarmWindowsOf(Tables.events(spark, sfDir))
      val v = alarmVerdictsFrom(docs,
          cachedAlarmModel(spark, sfDir, trainFrac, nBuckets))
        .localCheckpoint(true)
      (v, v.count()) // alarm-hour-bounded — a driver-cheap count
    }._1
  }

  /** The TRAINED MODEL per corpus version — the same audit-artifact
    * discipline as the verdict frame, one tier up: [[alarmModelOf]]
    * is the dominant cost of the whole A69/A70 family (a corpus-wide
    * train pass), and before this cache the bundle writer paid it
    * TWICE (once directly, once through the curve's verdicts). Train
    * runs once per (corpus stamp, trainFrac, nBuckets) per JVM; the
    * verdict cache and the bundle writer both read it. */
  private val alarmModelCache =
    new StampedCache[(Double, Int), Option[(Array[Double], Double, Double)]]

  private def cachedAlarmModel(spark: SparkSession, sfDir: String,
      trainFrac: Double, nBuckets: Int)
      : Option[(Array[Double], Double, Double)] =
    alarmModelCache(sfDir, Tables.pathStamp(spark, s"$sfDir/events.parquet"),
        (trainFrac, nBuckets))(
      alarmModelOf(alarmWindowsOf(Tables.events(spark, sfDir)),
        trainFrac, nBuckets))

  /** The labeled alarm-window frame A69 trains and serves on —
    * (doc_id, user_id, hour_us, text, was_real) — exposed as a seam so
    * the streaming triage twin can replay exactly these windows. */
  private[graft] def alarmWindowsOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val HourUs = AlarmHourUs
    val hours = events
      .groupBy($"user_id",
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
      .agg(
        sum(when($"event_type" === "error", 1L).otherwise(0L))
          .as("failures"),
        sum(when($"event_type" =!= "error", 1L).otherwise(0L))
          .as("successes"))
    val alarms = hours.filter($"failures" >= 1 && $"successes" === 0)
      .select($"user_id", $"hour_us")
    // TRANSFERABLE context features (the r14 A69e finding: the learned
    // operating point read recall 0.2 / precision 0.018 on the unseen
    // later half — raw event tokens are time-local, so the model
    // memorized the early half's ids instead of learning what a real
    // alarm looks like). Two features that survive a time split by
    // construction: the hour-of-day (diurnal failure pattern) and the
    // alarm hour's failure count z-scored against the DEVICE'S OWN
    // PRIOR history (the A30/A31 kernel shape — an expanding window
    // over earlier hours only, so the feature itself never looks
    // forward), plus the alarm hour's own failure magnitude bucketed
    // at 4 (a burst of failures persists more often than a single
    // one). All enter as plain tokens ahead of the event text;
    // ONE definition here, so batch verify, the curve/tuned/transfer
    // siblings, and the A70 streaming twin all inherit them.
    val wHist = Window.partitionBy($"user_id").orderBy($"hour_us")
      .rowsBetween(Window.unboundedPreceding, -1)
    val devZ = hours
      .withColumn("mu", avg($"failures").over(wHist))
      .withColumn("sd", stddev_pop($"failures").over(wHist))
      .withColumn("dev_z",
        when($"sd".isNull || $"sd" === 0.0, lit(null))
          .otherwise(($"failures" - $"mu") / $"sd"))
      .select($"user_id", $"hour_us",
        concat(
          lit("hod"), expr(s"hour_us div $HourUs % 24"),
          lit(" "),
          when($"dev_z".isNull, "dzna")
            .when($"dev_z" < 1.0, "dzlo")
            .when($"dev_z" < 2.0, "dz1")
            .when($"dev_z" < 3.0, "dz2")
            .otherwise("dz3"),
          lit(" nf"), least($"failures", lit(4L))).as("ctx"))
    // label: the failure persisted into the NEXT hour
    val nextErr = hours.filter($"failures" >= 1)
      .select($"user_id", ($"hour_us" - HourUs).as("hour_us"),
        lit(true).as("was_real"))
    // PRUNE BEFORE AGGREGATING (the C12 shape): alarm hours are rare,
    // so a broadcast semi-join against the alarm (device, hour) frame
    // keeps the text collect from exchanging EVERY event's payload to
    // build windows the inner join below would throw away — the
    // 100-TB side stays map-only into the semi-join, and only
    // alarm-hour events reach the shuffle.
    val windowText = events
      .withColumn("hour_us",
        expr("unix_micros(date_trunc('hour', ts))"))
      .join(broadcast(alarms), Seq("user_id", "hour_us"), "left_semi")
      .groupBy($"user_id", $"hour_us")
      .agg(expr(
        """array_join(transform(
          |  array_sort(collect_list(named_struct(
          |    'us', unix_micros(ts), 'id', event_id,
          |    's', concat(event_type, ' k',
          |      coalesce(get_json_object(props, '$.k'), '')))),
          |  (a, b) -> case when a.us < b.us then -1
          |    when a.us > b.us then 1
          |    when a.id < b.id then -1 when a.id > b.id then 1
          |    else 0 end),
          |  x -> x.s), ' ')""".stripMargin).as("text"))
    alarms
      .join(nextErr, Seq("user_id", "hour_us"), "left")
      .na.fill(false, Seq("was_real"))
      .join(windowText, Seq("user_id", "hour_us"))
      .join(devZ, Seq("user_id", "hour_us"))
      .withColumn("text", concat($"ctx", lit(" "), $"text"))
      // LONG arithmetic throughout: Column `/` is double division,
      // and at fleet-scale user ids the composite would exceed 2^53
      // and collide adjacent hours
      .select(expr(s"user_id * ${1L << 40} + hour_us div $HourUs")
        .as("doc_id"), $"user_id", $"hour_us", $"text", $"was_real")
  }

  /** The trained alarm model + prior-log-odds threshold + time cutoff
    * over an A69 window frame — None when the frame is empty (no
    * alarms, nothing to learn). The seam the streaming triage twin
    * consumes: ONE training policy for batch verify and live triage. */
  private[graft] def alarmModelOf(windows: DataFrame,
      trainFrac: Double = 0.7,
      nBuckets: Int = 1024): Option[(Array[Double], Double, Double)] = {
    val spark = windows.sparkSession
    import spark.implicits._
    require(trainFrac > 0.0 && trainFrac < 1.0,
      s"trainFrac $trainFrac must be in (0,1)")
    // the time cutoff: train on the past, verify the future — exact
    // percentile over alarm hours (device-hour-bounded, the E10 class)
    val cutRow = windows.agg(
      expr(s"percentile(hour_us, $trainFrac)").as("c")).head()
    if (cutRow.isNullAt(0)) return None
    val cutoff = cutRow.getDouble(0)
    val train = windows.filter($"hour_us" <= cutoff)
    val model = Curation.qualityClassifierModel(
      train.select($"doc_id", $"text"),
      train.select($"doc_id", $"was_real".as("is_pos")), nBuckets)
    // Bayes decision under class skew: the NB weights carry likelihood
    // ratios only, so the verdict threshold is the train split's prior
    // log-odds ln(neg/pos) — threshold 0 would assume alarms are real
    // half the time, which no alert stream satisfies. Add-1 so a
    // single-class train window cannot blow up the log.
    val pri = train.agg(
      sum(when($"was_real", 1L).otherwise(0L)),
      sum(when(!$"was_real", 1L).otherwise(0L))).head()
    val thr = math.log(
      (pri.getLong(1) + 1).toDouble / (pri.getLong(0) + 1))
    Some((model, thr, cutoff))
  }

  def alarmVerifyOf(events: DataFrame, trainFrac: Double = 0.7,
      nBuckets: Int = 1024): DataFrame = {
    val docs = alarmWindowsOf(events)
    alarmVerdictsFrom(docs, alarmModelOf(docs, trainFrac, nBuckets))
  }

  /** Serve held-out verdicts from an ALREADY-TRAINED model over an A69
    * window frame — the seam that lets the cached model feed the
    * verdict frame without retraining (train and serve were one body
    * before, so the bundle writer's shared-pipeline fix would have had
    * to re-run the train). */
  private def alarmVerdictsFrom(docs: DataFrame,
      trained: Option[(Array[Double], Double, Double)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trained match {
      case None =>
        docs.select($"user_id", $"hour_us",
          lit(0.0).as("nb_z"), lit(false).as("predicted_real"),
          $"was_real").limit(0)
      case Some((model, thr, cutoff)) =>
        val test = docs.filter($"hour_us" > cutoff)
        // verdicts cut on the ROUNDED nb_z (the C62 handoff rule):
        // every downstream consumer — curve grid, tuned re-cut, the
        // A70 stream twins — compares the same round-6 value, so no
        // verdict can flip on sub-rounding ulps between siblings
        Curation.classifierServe(test.select($"doc_id", $"text"),
            model, thr)
          .join(test.select($"doc_id", $"user_id", $"hour_us",
            $"was_real"), Seq("doc_id"))
          .select($"user_id", $"hour_us", $"nb_z",
            ($"nb_z" > thr).as("predicted_real"), $"was_real")
          .orderBy($"user_id", $"hour_us")
    }
  }

  // --------------------------------------------------------------- A70
  /** STREAMING ALARM TRIAGE — the pager acts LIVE, batch A69 reports
    * after the fact: C60b's stateless dense gather scores alert
    * windows at ingest against a FROZEN model + threshold (train in
    * batch with [[alarmModelOf]], or read the staged C60d bundle).
    * Input is the alert-window stream (user_id, hour_us, text) in
    * [[alarmWindowsOf]]'s text shape — ctx tokens leading — which a
    * LIVE feed gets from [[alarmWindowsStream]] (A70c): the model was
    * trained on ctx-prefixed text, so a raw window stream that skipped
    * the prefix would be scored on features the model never saw. The
    * scorer is one codegen'd map riding each micro-batch's scan: no
    * state, no join, no shuffle, so triage adds zero latency classes
    * to the alert path. ONE kernel with batch A69
    * ([[Curation.classifierServeWith]] is [[Curation.classifierServe]]
    * minus the projection), so the spec can pin verdict parity on
    * replayed history bit-exactly. */
  def alarmTriageStream(windows: DataFrame, model: Array[Double],
      threshold: Double): DataFrame = {
    // predicted on the ROUNDED nb_z — the same comparison every batch
    // sibling makes (see alarmVerifyOf), so replayed history verifies
    // bit-exactly
    Curation.classifierServeWith(windows, model, threshold)
      .select(col("user_id"), col("hour_us"), col("nb_z"),
        (col("nb_z") > threshold).as("predicted_real"))
  }

  // --------------------------------------------------------------- A70c
  /** STREAMING ALARM-WINDOW BUILDER — closes the train/serve feature
    * seam [[alarmTriageStream]] left open: the model is trained on
    * [[alarmWindowsOf]] text, which LEADS with the ctx tokens
    * (hod/dz/nf — hour-of-day, device-prior z bucket, failure
    * magnitude), but the triage stream accepted any (user_id, hour_us,
    * text) frame — a live feed that skipped the ctx prefix would be
    * scored on features the model never saw, silently. This operator
    * turns the RAW event stream into exactly alarmWindowsOf-shaped
    * windows, so `alarmTriageStream(alarmWindowsStream(events), …)` is
    * the certified live path (the parity spec pins its emitted text
    * bit-equal to the batch builder's on replayed history).
    *
    * Per-device state is one open hour (its event summaries, bounded
    * by hour volume) plus the prior-hour failure history folded to
    * FOUR scalars: count, running sum (the batch `avg`'s arithmetic),
    * and Welford (mean, m2) — the exact update sequence Spark's
    * expanding `stddev_pop` window applies in hour order, so the dz
    * bucket cannot diverge from batch on ulps. An hour closes (and
    * emits, if it is an alarm hour: failures ≥ 1 and no successes)
    * when the device's FIRST later-hour event arrives; the trailing
    * open hour emits only when a later event eventually closes it —
    * the batch sweep remains the completeness pass (the C9 trade).
    * Same delivery assumption as F26b, stated: per-device event order
    * must be nondecreasing in hour ACROSS triggers; a late
    * earlier-hour event is dropped, not respliced. */
  def alarmWindowsStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val HourUs = AlarmHourUs
    // the props probe is the SAME get_json_object the batch window
    // text uses — extracted before the state machine so one column
    // expression defines it for both paths
    val prepped = events.select($"user_id",
        expr("unix_micros(ts)").as("us"),
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"),
        $"event_id", $"event_type",
        coalesce(get_json_object($"props", "$.k"), lit("")).as("k"))
      .as[(Long, Long, Long, Long, String, String)]
    prepped
      .groupByKey(_._1)
      .flatMapGroupsWithState[AlarmDevState, AlarmWindowRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, it, state) =>
          var st = state.getOption.getOrElse(
            AlarmDevState(Long.MinValue, Nil, 0L, 0.0, 0.0, 0.0))
          val out = Seq.newBuilder[AlarmWindowRow]
          def close(): Unit = if (st.hourUs != Long.MinValue) {
            val failures = st.evs.count(_._3 == "error").toLong
            val successes = st.evs.size - failures
            if (failures >= 1L && successes == 0L) {
              // dz bucket from the PRIOR history scalars — mu is the
              // batch avg (sum/n), sd the batch stddev_pop (m2/n)
              val dz =
                if (st.n == 0L) "dzna"
                else {
                  val sd = math.sqrt(st.m2 / st.n)
                  if (sd == 0.0 || sd.isNaN) "dzna"
                  else {
                    val z = (failures - st.sum / st.n) / sd
                    if (z < 1.0) "dzlo" else if (z < 2.0) "dz1"
                    else if (z < 3.0) "dz2" else "dz3"
                  }
                }
              val ctx = s"hod${st.hourUs / HourUs % 24} $dz " +
                s"nf${math.min(failures, 4L)}"
              val body = st.evs.sortBy(e => (e._1, e._2))
                .map(e => s"${e._3} k${e._4}").mkString(" ")
              out += AlarmWindowRow(uid, st.hourUs, s"$ctx $body")
            }
            // EVERY closed event-active hour folds into the prior
            // history (the batch `hours` frame is not alarm-filtered):
            // sum for the avg, Welford for the stddev_pop
            val x = failures.toDouble
            val n1 = st.n + 1
            val delta = x - st.mean
            val mean1 = st.mean + delta / n1
            st = st.copy(n = n1, sum = st.sum + x, mean = mean1,
              m2 = st.m2 + delta * (x - mean1))
          }
          it.toArray.sortBy(e => (e._3, e._2, e._4)).foreach {
            case (_, us, hourUs, id, etype, k) =>
              if (hourUs > st.hourUs) {
                close()
                st = st.copy(hourUs = hourUs, evs = Nil)
                st = st.copy(evs = List((us, id, etype, k)))
              } else if (hourUs == st.hourUs) {
                st = st.copy(evs = (us, id, etype, k) :: st.evs)
              } // else: late earlier-hour event — dropped (stated)
          }
          state.update(st)
          out.result().iterator
      }
      .toDF("user_id", "hour_us", "text")
  }

  // --------------------------------------------------------------- A70b
  /** PERSISTED ALARM-VERIFIER BUNDLE — the C60d artifact discipline
    * for the alarm tier: a pager serves a frozen model for months, so
    * the model AND its A69c-derived operating point must outlive the
    * session that trained them, as one versioned artifact a serving
    * tier can never tear apart. `weights/` at full double precision;
    * `meta/` (nBuckets, the DERIVED threshold, the train prior point
    * for comparison, the time cutoff, corpus stamp) written LAST as
    * the commit point. The threshold stored is the curve's chosen
    * scalar (F1 argmax or precision-target) — "train → sweep →
    * derive → freeze" ships as one unit, so live triage consumes the
    * measured operating point, not the un-swept prior. */
  def writeAlarmVerifier(spark: SparkSession, sfDir: String,
      dir: String, trainFrac: Double = 0.7, nBuckets: Int = 1024,
      precisionTarget: Option[Double] = None): Unit = {
    import spark.implicits._
    // ONE shared train: the bundle's model comes from the same cache
    // the curve's verdict frame serves from, so a cold bundle write
    // prices the dominant train+serve cost once, not twice
    val trained = cachedAlarmModel(spark, sfDir, trainFrac, nBuckets)
    require(trained.nonEmpty,
      s"no alarm windows in $sfDir — nothing to train; the bundle " +
        "refuses to ship an evidence-free model")
    val (model, priorThr, cutoff) = trained.get
    val thr = Curation.chosenThreshold(
      alarmVerifyCurveOf(
        cachedAlarmVerdicts(spark, sfDir, trainFrac, nBuckets)),
      precisionTarget)
    model.zipWithIndex.map { case (w, b) => (b, w) }.toSeq.toDF("b", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/weights")
    val stamp = Tables.pathStamp(spark, s"$sfDir/events.parquet")
    Seq((nBuckets, thr, priorThr, cutoff, stamp))
      .toDF("n_buckets", "threshold", "prior_threshold", "cutoff",
        "corpus_stamp")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The re-opened bundle: (model, derived threshold). A torn weights
    * table fails by name (the C60d rule — a partial vector would
    * silently floor missing buckets at 0). */
  private val alarmBundleCache = new StampedCache[Unit, (Array[Double], Double)]
  /** Parsed bundles cached per (dir, meta stamp) — the C60d
    * bundleCache rule applied to the alarm verifier. */
  def readAlarmVerifier(spark: SparkSession,
      dir: String): (Array[Double], Double) =
    // root stamp, not meta — a weights rewrite alone must invalidate
    // the parsed bundle (the readLangModel rule)
    alarmBundleCache(dir, graft.Tables.pathStamp(spark, dir), ())(
      readAlarmVerifierUncached(spark, dir))
  private def readAlarmVerifierUncached(spark: SparkSession,
      dir: String): (Array[Double], Double) = {
    val m = spark.read.parquet(s"$dir/meta").head()
    val (nB, thr) = (m.getInt(0), m.getDouble(1))
    val rows = spark.read.parquet(s"$dir/weights").collect()
    require(rows.length == nB,
      s"alarm-verifier bundle at $dir is torn: ${rows.length} weight " +
        s"rows for nBuckets=$nB — rebuild with writeAlarmVerifier")
    val w = new Array[Double](nB)
    rows.foreach(r => w(r.getInt(0)) = r.getDouble(1))
    (w, thr)
  }

  /** Live triage straight from the staged bundle — the cross-session
    * consumer: any alert-window stream, any session, scored at the
    * artifact's frozen derived operating point. */
  def alarmTriageStreamFrom(spark: SparkSession, dir: String,
      windows: DataFrame): DataFrame = {
    val (model, thr) = readAlarmVerifier(spark, dir)
    alarmTriageStream(windows, model, thr)
  }

  // --------------------------------------------------------------- A69b
  /** A69's QUALITY as a driver-visible number (the C54/D8 discipline:
    * a learned component's accuracy belongs in the round dump, not
    * only in spec thresholds): one row over the held-out verdicts —
    * volume, accuracy, and the precision/recall of the "real" class
    * (the class a pager acts on: precision is the false-page rate's
    * complement, recall is the missed-incident rate's). All order-free
    * integer aggregates over A69's CACHED verdict frame — the report
    * costs one aggregate over pinned alarm-hour rows, not a second
    * train+serve chain. */
  def alarmVerifyReport(spark: SparkSession, sfDir: String,
      trainFrac: Double = 0.7, nBuckets: Int = 1024): DataFrame = {
    import spark.implicits._
    cachedAlarmVerdicts(spark, sfDir, trainFrac, nBuckets)
      .agg(count(lit(1)).as("n_test"),
        sum(when($"predicted_real" === $"was_real", 1L).otherwise(0L))
          .as("n_correct"),
        sum(when($"predicted_real" && $"was_real", 1L).otherwise(0L))
          .as("tp"),
        sum(when($"predicted_real" && !$"was_real", 1L).otherwise(0L))
          .as("fp"),
        sum(when(!$"predicted_real" && $"was_real", 1L).otherwise(0L))
          .as("fn"))
      .select($"n_test", $"n_correct",
        round($"n_correct".cast("double") / nullif($"n_test", lit(0L)),
          6).as("accuracy"),
        round($"tp".cast("double") / nullif($"tp" + $"fp", lit(0L)), 6)
          .as("precision_real"),
        round($"tp".cast("double") / nullif($"tp" + $"fn", lit(0L)), 6)
          .as("recall_real"))
  }

  // --------------------------------------------------------------- A69c
  /** ALARM-VERIFIER OPERATING CURVE — the C61 discipline applied to
    * A69 (the r13 finding: the prior-log-odds point pages tp=0 on
    * held-out data, and without a swept curve nobody can say whether
    * ANY operating point pages usefully): precision/recall/F1 of the
    * "real" verdict at each threshold in a grid over the held-out
    * score distribution. No universal z-scale exists for alarm text,
    * so the grid is DATA-DERIVED — 5%-step percentiles of the cached
    * verdicts' nb_z, ∪ {0.0} and the train prior point is implicit in
    * the span — ≤ 21 driver rows (the C64 argmax class). Columns match
    * C61's report shape exactly so [[Curation.classifierThresholdOf]]
    * / [[Curation.chosenThreshold]] consume it unchanged. Rows-only:
    * inherits A69's implementation-defined split + hashed features. */
  def alarmVerifyCurve(spark: SparkSession, sfDir: String,
      trainFrac: Double = 0.7, nBuckets: Int = 1024): DataFrame =
    alarmVerifyCurveOf(
      cachedAlarmVerdicts(spark, sfDir, trainFrac, nBuckets))

  /** A69c over any A69-shaped verdict frame — the spec entry. */
  def alarmVerifyCurveOf(verdicts: DataFrame): DataFrame = {
    val spark = verdicts.sparkSession
    import spark.implicits._
    // grid: one driver row of ≤ 19 percentiles (alarm-hour-bounded
    // input, the E10 class), then a broadcast cross of ≤ 21 literals
    val qs = (1 to 19).map(_ * 0.05)
    val row = verdicts.agg(
      expr(s"percentile(nb_z, array(${qs.mkString(",")}))")).head()
    val cand =
      if (row.isNullAt(0)) Seq(0.0)
      else (row.getSeq[Double](0)
        .map(t => math.rint(t * 1e6) / 1e6) :+ 0.0).distinct.sorted
    val grid = cand.toDF("threshold")
    val kept = $"nb_z" > $"threshold"
    verdicts.crossJoin(broadcast(grid))
      .groupBy($"threshold")
      .agg(count(lit(1)).as("n_heldout"),
        sum(when(kept && $"was_real", 1L).otherwise(0L)).as("tp"),
        sum(when(kept && !$"was_real", 1L).otherwise(0L)).as("fp"),
        sum(when(!kept && $"was_real", 1L).otherwise(0L)).as("fn"),
        sum(when(!kept && !$"was_real", 1L).otherwise(0L)).as("tn"))
      .select($"threshold", $"n_heldout", $"tp", $"fp", $"fn", $"tn",
        round($"tp".cast("double") / nullif($"tp" + $"fp", lit(0L)), 6)
          .as("precision"),
        round($"tp".cast("double") / nullif($"tp" + $"fn", lit(0L)), 6)
          .as("recall"),
        round(lit(2.0) * $"tp" /
          nullif(lit(2L) * $"tp" + $"fp" + $"fn", lit(0L)), 6)
          .as("f1"))
      .orderBy($"threshold")
  }

  // --------------------------------------------------------------- A69d
  /** A69 SERVED AT THE DERIVED OPERATING POINT — the C64 move closed
    * into the alarm tier: verdicts re-cut at the curve's chosen
    * threshold (F1 argmax by default; `precisionTarget` for a pager
    * that bounds its false-page rate), with the scalar stamped on
    * every row so the operating point is driver-visible, not buried
    * in a log. Selection happens on the SAME held-out frame the
    * verdicts come from — C61/C64's own discipline (their argmax runs
    * over val+test) — stated here rather than hidden: the tuned
    * numbers are a tuned-on-held-out ceiling, and the honest
    * generalization check is the curve's neighborhood around the
    * chosen point, which the A69c dump prices openly. Cost beyond the
    * cached verdicts: one ≤21-row curve + one map over pinned
    * alarm-hour rows. */
  def alarmVerifyTuned(spark: SparkSession, sfDir: String,
      trainFrac: Double = 0.7, nBuckets: Int = 1024,
      precisionTarget: Option[Double] = None): DataFrame = {
    import spark.implicits._
    val verdicts = cachedAlarmVerdicts(spark, sfDir, trainFrac, nBuckets)
    val thr = Curation.chosenThreshold(
      alarmVerifyCurveOf(verdicts), precisionTarget)
    verdicts.select($"user_id", $"hour_us", $"nb_z",
        ($"nb_z" > thr).as("predicted_real"), $"was_real",
        lit(thr).as("threshold"))
      .orderBy($"user_id", $"hour_us")
  }

  // --------------------------------------------------------------- A69e
  /** THRESHOLD-TRANSFER REPORT — the honest generalization number
    * A69d's docstring owed (its argmax selects on the SAME held-out
    * frame it reports on — a tuned-on-held-out ceiling): split the
    * held-out verdicts AGAIN by time at their hour median, derive the
    * operating point from the curve over the EARLIER half only, and
    * report the confusion of that frozen scalar on the LATER half —
    * alarms the selection never saw.
    *
    * TWO rows, one per OPERATING CORNER (the r15 finding: the f1
    * corner transferred at recall 0.6 but precision 0.018 — 98% false
    * pages, honest but unusable; a pager needs the other corner
    * priced too):
    *   - `f1_argmax`        — the unconstrained F1-argmax point;
    *   - `precision_floored`— max recall SUBJECT TO precision ≥
    *     `precisionFloor` on the selection half (the lowest qualifying
    *     grid threshold — recall is monotone non-increasing in the
    *     threshold, so lowest qualifying = max recall). When no grid
    *     point attains the floor on the selection half the row says so
    *     (`attained` false, null threshold/cells) instead of silently
    *     paging at an uncertified point — the [[Curation
    *     .chosenThreshold]] fail-by-name rule, reported as data.
    * Each row: both thresholds (transferred scalar + same-frame
    * ceiling for comparison), the later-half confusion at the
    * TRANSFERRED point, and pager-class precision/recall. All
    * driver-cheap work over the cached pinned frame (one median
    * action, two ≤21-row curves, one aggregate per attained corner).
    * Rows-only: A69's split/hash reason; the spec pins that a stable
    * planted signal transfers (tp > 0 on the unseen half), that cells
    * partition the later half, and that the floored corner's
    * selection-half precision certification holds. */
  def alarmVerifyTransfer(spark: SparkSession, sfDir: String,
      trainFrac: Double = 0.7, nBuckets: Int = 1024,
      precisionFloor: Double = 0.5): DataFrame =
    alarmVerifyTransferOf(
      cachedAlarmVerdicts(spark, sfDir, trainFrac, nBuckets),
      precisionFloor)

  /** A69e over any A69-shaped verdict frame — the spec entry. */
  def alarmVerifyTransferOf(verdicts: DataFrame,
      precisionFloor: Double = 0.5): DataFrame = {
    val spark = verdicts.sparkSession
    import spark.implicits._
    def emptyCorners: DataFrame =
      Seq.empty[(String, Option[Double], Boolean)]
        .toDF("corner", "precision_floor", "attained")
        .select(col("*"),
          lit(null).cast("double").as("threshold_transferred"),
          lit(null).cast("double").as("threshold_ceiling"),
          lit(null).cast("long").as("n_later"),
          lit(null).cast("long").as("tp"),
          lit(null).cast("long").as("fp"),
          lit(null).cast("long").as("fn"),
          lit(null).cast("long").as("tn"),
          lit(null).cast("double").as("precision_real"),
          lit(null).cast("double").as("recall_real"))
    // the sub-split cutoff: median held-out hour (alarm-hour-bounded
    // frame — the E10 driver-cheap class)
    val cutRow = verdicts.agg(
      expr("percentile(hour_us, 0.5)").as("c")).head()
    if (cutRow.isNullAt(0)) return emptyCorners
    val cutoff = cutRow.getDouble(0)
    val earlier = verdicts.filter($"hour_us" <= cutoff)
    val later = verdicts.filter($"hour_us" > cutoff)
    val curveEarlier = alarmVerifyCurveOf(earlier)
    val curveAll = alarmVerifyCurveOf(verdicts)
    // headOption, not chosenThreshold: an unattained floor is a REPORT
    // ROW here, not an exception — the curve+floor certification is
    // the content of the corner
    def pick(curve: DataFrame, target: Option[Double]): Option[Double] =
      Curation.classifierThresholdOf(curve, target)
        .select($"threshold").take(1).headOption.map(_.getDouble(0))
    val corners = Seq(
      ("f1_argmax", None),
      ("precision_floored", Some(precisionFloor)))
    corners.map { case (corner, target) =>
      pick(curveEarlier, target) match {
        case None =>
          Seq((corner, target)).toDF("corner", "precision_floor")
            .select($"corner", $"precision_floor",
              lit(false).as("attained"),
            lit(null).cast("double").as("threshold_transferred"),
            lit(pick(curveAll, target).orNull).cast("double")
              .as("threshold_ceiling"),
            lit(null).cast("long").as("n_later"),
            lit(null).cast("long").as("tp"),
            lit(null).cast("long").as("fp"),
            lit(null).cast("long").as("fn"),
            lit(null).cast("long").as("tn"),
            lit(null).cast("double").as("precision_real"),
            lit(null).cast("double").as("recall_real"))
        case Some(thrT) =>
          val kept = $"nb_z" > thrT
          later.agg(count(lit(1)).as("n_later"),
              sum(when(kept && $"was_real", 1L).otherwise(0L)).as("tp"),
              sum(when(kept && !$"was_real", 1L).otherwise(0L)).as("fp"),
              sum(when(!kept && $"was_real", 1L).otherwise(0L)).as("fn"),
              sum(when(!kept && !$"was_real", 1L).otherwise(0L)).as("tn"))
            .select(lit(corner).as("corner"),
              lit(target.orNull).cast("double").as("precision_floor"),
              lit(true).as("attained"),
              lit(thrT).as("threshold_transferred"),
              lit(pick(curveAll, target).orNull).cast("double")
                .as("threshold_ceiling"),
              $"n_later", $"tp", $"fp", $"fn", $"tn",
              round($"tp".cast("double") / nullif($"tp" + $"fp", lit(0L)), 6)
                .as("precision_real"),
              round($"tp".cast("double") / nullif($"tp" + $"fn", lit(0L)), 6)
                .as("recall_real"))
      }
    }.reduce(_ unionByName _)
  }

  // --------------------------------------------------------------- A45b
  /** A45 fed by a CANDIDATE GENERATOR instead of event volume — the
    * fleet-wide screen at scale the A45 docstring promises: the panel
    * is the devices the ANOMALY detectors flagged (A31 z-score outlier
    * samples + A36 CUSUM alarms), ranked by flag count with an id
    * tiebreak and capped at `maxPanel`. Top-N-by-volume is the wrong
    * panel for "did these degrade together" — a QUIET device that
    * alarmed belongs in the screen and a chatty healthy one does not
    * (the spec plants exactly that: a low-volume common-cause pair the
    * volume panel provably misses). Correlation math is the one shared
    * [[crossCorrKernel]], so this and [[crossCorr]] cannot diverge on
    * formula.
    *
    * Scale: candidate generation is itself a fleet screen — both
    * generators are the already-shipped scale-shaped operators (one
    * corpus scan + fleet-sized frames each), their flag sets are
    * fleet-bounded, and the panel cap bounds the pair join exactly as
    * A45's. Oracle-checked end-to-end: both generators and the kernel
    * are bit-exact parity operators, so their composition is too. */
  def crossCorrAnomalies(spark: SparkSession, sfDir: String,
      k: Double = 2.0, target: Double = 50.0, slack: Double = 2.5,
      h: Double = 200.0, maxPanel: Int = 24,
      minBuckets: Long = 24): DataFrame =
    crossCorrAnomaliesOf(Tables.events(spark, sfDir),
      k, target, slack, h, maxPanel, minBuckets)

  /** A45b over an arbitrary events frame (spec entry — plant a quiet
    * common-cause pair beside loud healthy devices). */
  def crossCorrAnomaliesOf(events: DataFrame, k: Double = 2.0,
      target: Double = 50.0, slack: Double = 2.5, h: Double = 200.0,
      maxPanel: Int = 24, minBuckets: Long = 24): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(maxPanel >= 2, s"maxPanel $maxPanel must be >= 2")
    // flag weight: one per z-outlier SAMPLE (a device that keeps
    // tripping the detector outranks a one-off) plus one per CUSUM
    // alarm; union-all-sum keeps the frame fleet-bounded
    val zFlags = zscoreOutliersOf(events, k)
      .groupBy($"user_id").agg(count(lit(1)).as("f"))
    val cFlags = cusumOf(events, target, slack, h)
      .filter($"alarm").select($"user_id", lit(1L).as("f"))
    val panel = zFlags.select($"user_id", $"f")
      .unionByName(cFlags)
      .groupBy($"user_id").agg(sum($"f").as("n_flags"))
      .orderBy($"n_flags".desc, $"user_id").limit(maxPanel)
      .select($"user_id")
    crossCorrKernel(events, panel, minBuckets)
  }

  /** The composition oracle: A31's flag counts + A36's alarms feed the
    * panel CTE, then the A45 kernel SQL body runs over that panel. */
  def crossCorrAnomaliesSql(k: Double = 2.0, target: Double = 50.0,
      slack: Double = 2.5, h: Double = 200.0, maxPanel: Int = 24,
      minBuckets: Long = 24): String = {
    val ref = target + slack
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us, value
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
       |mo AS (
       |  SELECT user_id, COUNT(*) AS n,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
       |  FROM e GROUP BY user_id),
       |st AS (
       |  SELECT user_id, sx / n AS mu,
       |    sqrt(greatest((sxx - sx * sx / n) / n, 0.0)) AS sigma
       |  FROM mo),
       |zf AS (
       |  SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM e JOIN st USING (user_id)
       |  WHERE abs(e.value - st.mu) > $k * st.sigma
       |  GROUP BY e.user_id),
       |cv AS (
       |  SELECT user_id, list(value ORDER BY epoch_us(ts), event_id) AS vals
       |  FROM events
       |  WHERE event_type = 'purchase' AND value IS NOT NULL
       |  GROUP BY user_id),
       |cu AS (
       |  SELECT user_id,
       |    list_reduce(
       |      list_prepend([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
       |        list_transform(vals, el -> [CAST(el AS DOUBLE), CAST(el AS DOUBLE)])),
       |      (acc, x) -> [greatest(CAST(0.0 AS DOUBLE), acc[1] + (x[1] - $ref)),
       |                   greatest(acc[2],
       |                     greatest(CAST(0.0 AS DOUBLE), acc[1] + (x[1] - $ref)))]) AS cst
       |  FROM cv),
       |cf AS (
       |  SELECT user_id, CAST(1 AS BIGINT) AS f FROM cu WHERE cst[2] > $h),
       |fl AS (
       |  SELECT user_id, SUM(f) AS n_flags
       |  FROM (SELECT * FROM zf UNION ALL SELECT * FROM cf)
       |  GROUP BY user_id),
       |panel AS (
       |  SELECT user_id FROM fl ORDER BY n_flags DESC, user_id
       |  LIMIT $maxPanel),
       |hourly AS (
       |  SELECT user_id, epoch_us(ts) // 21600000000 AS bucket,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS hv
       |  FROM events WHERE value IS NOT NULL
       |  GROUP BY user_id, epoch_us(ts) // 21600000000),
       |hp AS (SELECT hourly.* FROM hourly SEMI JOIN panel USING (user_id)),
       |m AS (
       |  SELECT a.user_id AS device_a, b.user_id AS device_b,
       |    COUNT(*) AS n_buckets,
       |    CAST(CAST(SUM(a.hv) AS DECIMAL(38,4)) AS DOUBLE) AS sx,
       |    CAST(CAST(SUM(b.hv) AS DECIMAL(38,4)) AS DOUBLE) AS sy,
       |    CAST(CAST(SUM(a.hv * b.hv) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
       |    CAST(CAST(SUM(a.hv * a.hv) AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
       |    CAST(CAST(SUM(b.hv * b.hv) AS DECIMAL(38,4)) AS DOUBLE) AS syy
       |  FROM hp a JOIN hp b ON a.bucket = b.bucket AND a.user_id < b.user_id
       |  GROUP BY a.user_id, b.user_id
       |  HAVING COUNT(*) >= $minBuckets),
       |v AS (
       |  SELECT *, greatest(n_buckets * sxx - sx * sx, 0.0) AS varx,
       |    greatest(n_buckets * syy - sy * sy, 0.0) AS vary
       |  FROM m)
       |SELECT device_a, device_b, n_buckets,
       |  (n_buckets * sxy - sx * sy) / (sqrt(varx) * sqrt(vary)) AS corr_hv
       |FROM v WHERE varx > 0.0 AND vary > 0.0
       |ORDER BY device_a, device_b""".stripMargin
  }

  // ---------------------------------------------------------------- A54
  /** ERROR PARETO — the prioritization chart behind "fix the worst
    * devices first" (A10 ranks top error devices; THIS says how much
    * of the fleet's pain the top k actually carry — if 20 devices own
    * 80% of errors, remediation is a ticket queue; if the share curve
    * is flat, the cause is systemic and per-device remediation is
    * busywork): devices in (errors desc, id) order with running error
    * totals and cumulative share. The running sum uses the C18
    * stratifiedPrefixSum shape — NOT a single-partition window, so a
    * million-device fleet ranks in parallel buckets; the dump keeps
    * the top `topK` rows (bounded) while the cumulative math runs
    * over the whole fleet. Share is an integer ratio rounded at 6. */
  def errorPareto(spark: SparkSession, sfDir: String,
      topK: Int = 20, buckets: Int = 1024): DataFrame = {
    import spark.implicits._
    require(topK >= 1)
    val perDev = Tables.events(spark, sfDir)
      .filter($"event_type" === "error")
      .groupBy($"user_id").agg(count(lit(1)).as("errs"))
      // pinned (fleet-sized, not corpus-sized): the lineage below it
      // is executed by at least four driver actions — the key-packing
      // guard head() plus each prefix-sum pass's internal min/max
      // probe and subtotal collect — and without the pin every one
      // re-scans the events parquet (the lmBuckets/budgetSelect
      // discipline)
      .localCheckpoint(true)
    // one probe agg serves the packing guard, the prefix span, the
    // null check, AND the fleet total (four driver reads, one job);
    // user_id null would null __ord — counted and refused like the
    // public kernel would
    val r = perDev.agg(max($"errs"), min($"user_id"), max($"user_id"),
      count(when($"user_id".isNull, lit(1))),
      sum($"errs").as("total")).head()
    if (r.isNullAt(0))
      return perDev.select($"user_id", $"errs",
        $"errs".as("cum_errs"), lit(0.0).as("cum_share"),
        lit(0L).as("rank")).limit(0)
    require(r.getLong(3) == 0L,
      s"errorPareto: ${r.getLong(3)} null user_id rows cannot rank")
    require(r.getLong(0) < (1L << 22) && r.getLong(1) >= 0 &&
      r.getLong(2) < (1L << 40),
      s"errorPareto key packing needs errs < 2^22 and ids in [0, 2^40)")
    val maxE = r.getLong(0)
    val keyed = perDev
      .withColumn("__ord", (lit(maxE) - $"errs") * lit(1L << 40) + $"user_id")
      .withColumn("__one", lit(1L))
      .withColumn("__s", lit("all"))
    // BOTH running totals (error mass + rank) in ONE fused prefix pass
    // — the chained two-kernel form re-executed the first pass's join
    // + window from lineage inside the second pass's probe and
    // subtotal jobs (4 extra jobs per invocation, measured r17)
    Scale.stratifiedPrefixSumBoundedMulti(keyed, "__s", "__ord",
        Seq("errs" -> "cum_errs", "__one" -> "rank"), buckets,
        r.getLong(1), maxE * (1L << 40) + r.getLong(2))
      .withColumn("total", lit(r.getLong(4)))
      .filter($"rank" <= topK)
      .select($"user_id", $"errs", $"cum_errs",
        round($"cum_errs".cast("double") / $"total".cast("double"), 6)
          .as("cum_share"),
        $"rank")
      .orderBy($"rank")
  }

  def errorParetoSql(topK: Int = 20): String =
    s"""WITH d AS (
       |  SELECT user_id, COUNT(*) AS errs FROM events
       |  WHERE event_type = 'error' GROUP BY user_id),
       |t AS (SELECT CAST(SUM(errs) AS BIGINT) AS total FROM d),
       |o AS (
       |  SELECT user_id, errs,
       |    SUM(errs) OVER (ORDER BY errs DESC, user_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_errs,
       |    ROW_NUMBER() OVER (ORDER BY errs DESC, user_id) AS rank
       |  FROM d)
       |SELECT user_id, errs, CAST(cum_errs AS BIGINT) AS cum_errs,
       |  ROUND(CAST(cum_errs AS DOUBLE) / CAST(total AS DOUBLE), 6)
       |    AS cum_share,
       |  rank
       |FROM o, t WHERE rank <= $topK ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- A53
  /** Windowed EXTENDED statistics — the pXX half of CloudWatch
    * `get-metric-statistics` that A4's Sum/Avg/Min/Max/SampleCount
    * set omits (the reference's CLI can request `p99` exactly like
    * `Sum`, putmedia_check.sh:10-37 — and tail percentiles, not
    * means, are what latency/SLO dashboards actually alarm on): per
    * (device, hour) exact p50/p95/p99 of the metric plus the sample
    * count. One map-side-partial exchange on the (device, window)
    * key; EXACT interpolated percentiles under B9's parity rounding.
    * At 100 TB the same query swaps percentile() for the
    * approx_percentile sketch — the SERVED sibling is
    * [[windowPercentilesApprox]] (A53b), spec-bounded against this
    * exact row. */
  def windowPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .groupBy($"user_id",
        expr(s"$tsUs div 3600000000").as("h"))
      .agg(
        count(lit(1)).as("n_samples"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .select($"user_id", ($"h" * 3600000000L).as("window_us"),
        $"n_samples", $"p50", $"p95", $"p99")
      .orderBy($"user_id", $"window_us")
  }

  val windowPercentilesSql: String =
    """SELECT user_id,
      |  (epoch_us(ts) // 3600000000) * 3600000000 AS window_us,
      |  COUNT(*) AS n_samples,
      |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(value, 0.95), 4) AS p95,
      |  ROUND(quantile_cont(value, 0.99), 4) AS p99
      |FROM events
      |WHERE event_type = 'purchase' AND value IS NOT NULL
      |GROUP BY user_id, epoch_us(ts) // 3600000000
      |ORDER BY user_id, window_us""".stripMargin

  // --------------------------------------------------------------- A53b
  /** A53's SCALE PATH as a served operator, not a doc note (the r12
    * served-sibling rule): the same (device, hour) windows through
    * the approx_percentile KLL-style sketch — mergeable partials, so
    * the exchange carries fixed-size sketches instead of every sample,
    * the B20 trade running where production would run it. Column
    * names carry the approx_ prefix (the B13/B36 estimate-naming
    * rule: an estimate must not masquerade as the exact number).
    * Rows-only: sketch internals are engine-specific (B20's reason);
    * the spec bounds every approx cell against exact A53 at the
    * sketch's rank-error guarantee. */
  def windowPercentilesApprox(spark: SparkSession, sfDir: String,
      accuracy: Int = 10000): DataFrame =
    windowPercentilesApproxOf(Tables.events(spark, sfDir), accuracy)

  /** A53b over any events frame — the seam the A53c streaming twin's
    * parity spec replays against. */
  def windowPercentilesApproxOf(events: DataFrame,
      accuracy: Int = 10000): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .groupBy($"user_id",
        expr(s"$tsUs div 3600000000").as("h"))
      .agg(
        count(lit(1)).as("n_samples"),
        expr(s"approx_percentile(value, array(0.5, 0.95, 0.99), $accuracy)")
          .as("ap"))
      .select($"user_id", ($"h" * 3600000000L).as("window_us"),
        $"n_samples",
        round(element_at($"ap", 1), 4).as("approx_p50"),
        round(element_at($"ap", 2), 4).as("approx_p95"),
        round(element_at($"ap", 3), 4).as("approx_p99"))
      .orderBy($"user_id", $"window_us")
  }

  /** A53b's ORACLE-CHECKED driver projection (the B13 move, rank-space
    * like B20's: an interpolated envelope would false-fail the tiny
    * windows where the sketch returns an exact ELEMENT but
    * percentile() interpolates between two): per window, counts of
    * samples strictly-below / at-or-below each sketch output bounded
    * by (q ± 0.001)·n — 10× the accuracy-10000 rank guarantee; exact
    * A53 percentiles + literal TRUE on the oracle side. Cost: one
    * extra pass over the (already window-keyed) purchase slice —
    * certification, not serving. */
  def windowPercentilesApproxChecked(spark: SparkSession,
      sfDir: String, accuracy: Int = 10000): DataFrame = {
    import spark.implicits._
    val base = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .select($"user_id", expr(s"$tsUs div 3600000000").as("h"), $"value")
    val ap = base
      .groupBy($"user_id", $"h")
      .agg(count(lit(1)).as("n_samples"),
        expr(s"approx_percentile(value, array(0.5, 0.95, 0.99), $accuracy)")
          .as("ap"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
    val d = 0.001
    def rankOk(i: Int, q: Double) =
      (sum(when($"value" < element_at($"ap", i), 1L).otherwise(0L))
        <= (lit(q) + d) * first($"n_samples")) &&
      (sum(when($"value" <= element_at($"ap", i), 1L).otherwise(0L))
        >= (lit(q) - d) * first($"n_samples"))
    base.join(ap, Seq("user_id", "h"))
      .groupBy($"user_id", $"h")
      .agg(first($"n_samples").as("n_samples"),
        first($"p50").as("p50"), first($"p95").as("p95"),
        first($"p99").as("p99"),
        (rankOk(1, 0.5) && rankOk(2, 0.95) && rankOk(3, 0.99))
          .as("within_bound"))
      .select($"user_id", ($"h" * 3600000000L).as("window_us"),
        $"n_samples", $"p50", $"p95", $"p99", $"within_bound")
      .orderBy($"user_id", $"window_us")
  }

  val windowPercentilesApproxCheckedSql: String =
    """SELECT *, TRUE AS within_bound FROM (%A53%) t
      |ORDER BY user_id, window_us""".stripMargin
      .replace("%A53%", windowPercentilesSql)

  // ---------------------------------------------------------------- A51
  /** ONE-ROW FLEET dashboard — E10's corpus_stats for the telemetry
    * axis, the summary an operator reads before opening any per-device
    * view: fleet size, event/error volume, error rate, devices active
    * in the trailing 24 h of fleet time vs silent (A42's cutoff
    * definition), and the per-device event-count distribution (mean +
    * exact p95 — a low p95 against a high mean says a few devices
    * carry the feed). ONE corpus exchange builds the per-device frame;
    * the fleet row and "now" derive from that tiny frame (A42's
    * discipline — never a second corpus scan). */
  def fleetHealth(spark: SparkSession, sfDir: String,
      recentUs: Long = 86400000000L): DataFrame = {
    import spark.implicits._
    require(recentUs > 0, s"recentUs $recentUs must be positive")
    val perDev = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum(when($"event_type" === "error", 1L).otherwise(0L)).as("errs"),
        max(expr(tsUs)).as("last_us"))
      // pinned (fleet-sized): both the now-aggregate and the fleet
      // rollup consume this frame — without the pin the "never a
      // second corpus scan" claim rests on ReuseExchange happening to
      // dedupe two identical aggregate subtrees, which nothing
      // asserts; the pin makes it structural
      .localCheckpoint(true)
    val now = perDev.agg(max($"last_us").as("now_us"))
    perDev.crossJoin(broadcast(now))
      .agg(
        count(lit(1)).as("n_devices"),
        sum($"n").as("n_events"),
        sum($"errs").as("n_errors"),
        (sum($"errs").cast("double") / sum($"n").cast("double"))
          .as("error_rate"),
        sum(when($"last_us" > $"now_us" - recentUs, 1L).otherwise(0L))
          .as("active_devices"),
        sum(when($"last_us" <= $"now_us" - recentUs, 1L).otherwise(0L))
          .as("silent_devices"),
        (sum($"n").cast("double") / count(lit(1)).cast("double"))
          .as("avg_events_per_device"),
        round(expr("percentile(n, 0.95)"), 4).as("p95_events_per_device"))
  }

  def fleetHealthSql(recentUs: Long = 86400000000L): String =
    s"""WITH d AS (
       |  SELECT user_id, COUNT(*) AS n,
       |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs,
       |    MAX(epoch_us(ts)) AS last_us
       |  FROM events GROUP BY user_id),
       |now_t AS (SELECT MAX(last_us) AS now_us FROM d)
       |SELECT COUNT(*) AS n_devices,
       |  CAST(SUM(n) AS BIGINT) AS n_events,
       |  CAST(SUM(errs) AS BIGINT) AS n_errors,
       |  CAST(SUM(errs) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS error_rate,
       |  CAST(SUM(CASE WHEN last_us > now_us - $recentUs THEN 1 ELSE 0 END)
       |    AS BIGINT) AS active_devices,
       |  CAST(SUM(CASE WHEN last_us <= now_us - $recentUs THEN 1 ELSE 0 END)
       |    AS BIGINT) AS silent_devices,
       |  CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS avg_events_per_device,
       |  ROUND(quantile_cont(n, 0.95), 4) AS p95_events_per_device
       |FROM d, now_t""".stripMargin

  // ---------------------------------------------------------------- A52
  /** ROBUST outlier detection via MEDIAN/MAD — the detector A31's
    * z-score cannot be on a skewed or already-contaminated series
    * (outliers inflate the mean and σ they are judged against,
    * masking themselves; the median and MAD barely move): flag
    * samples whose |x − median| exceeds `k` robust standard
    * deviations (MAD · 1.4826, the normal-consistency constant).
    * Two grouped EXACT percentile aggregations (B9's parity
    * discipline — interpolated percentile is the identical
    * arithmetic in both engines, rounded at each stage), each one
    * exchange over the per-device frame, stats broadcast back over
    * the values. Constant series (MAD = 0) are excluded — every
    * deviation is infinitely many MADs there, and A40/A44 own that
    * failure mode. */
  def madOutliers(spark: SparkSession, sfDir: String,
      k: Double = 3.5): DataFrame =
    madOutliersOf(Tables.events(spark, sfDir), k)

  /** A52 over an arbitrary events frame (spec entry + the A63
    * ensemble member): needs (user_id, ts, event_id, event_type,
    * value). */
  def madOutliersOf(events: DataFrame, k: Double = 3.5): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(k > 0, s"k $k must be positive")
    val vals = events
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .select($"user_id", expr(tsUs).as("us"), $"event_id", $"value")
    val med = vals.groupBy($"user_id")
      .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
    val dev = vals.join(broadcast(med), Seq("user_id"))
      .withColumn("absdev", round(abs($"value" - $"med"), 4))
    val mad = dev.groupBy($"user_id")
      .agg(round(expr("percentile(absdev, 0.5)"), 4).as("mad"))
    dev.join(broadcast(mad), Seq("user_id"))
      .filter($"mad" > 0.0 &&
        $"absdev" / ($"mad" * lit(1.4826)) > k)
      .select($"user_id", $"event_id", $"us", $"value", $"med", $"mad",
        round($"absdev" / ($"mad" * lit(1.4826)), 6).as("robust_z"))
      .orderBy($"user_id", $"us", $"event_id")
  }

  def madOutliersSql(k: Double = 3.5): String =
    s"""WITH v AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id, value
       |  FROM events
       |  WHERE event_type = 'purchase' AND value IS NOT NULL),
       |med AS (
       |  SELECT user_id, ROUND(quantile_cont(value, 0.5), 4) AS med
       |  FROM v GROUP BY user_id),
       |dev AS (
       |  SELECT v.*, med.med, ROUND(ABS(v.value - med.med), 4) AS absdev
       |  FROM v JOIN med USING (user_id)),
       |mad AS (
       |  SELECT user_id, ROUND(quantile_cont(absdev, 0.5), 4) AS mad
       |  FROM dev GROUP BY user_id)
       |SELECT user_id, event_id, us, value, med, mad,
       |  ROUND(absdev / (mad * 1.4826), 6) AS robust_z
       |FROM dev JOIN mad USING (user_id)
       |WHERE mad > 0.0 AND absdev / (mad * 1.4826) > $k
       |ORDER BY user_id, us, event_id""".stripMargin

  // ---------------------------------------------------------------- A49
  /** GAP-FILLED hourly series per device over the dashboard's render
    * window (trailing `horizonHours` of fleet time) — the
    * `time_bucket_gapfill` / `fill(previous)` staple every telemetry UI
    * needs before it can draw a line: missing hours inside a gap of at
    * most `maxFillHours` are synthesized with the last observed hourly
    * sum carried forward (`filled = true`); LONGER silences stay
    * unfilled on purpose — a 12-h hole is A40's heartbeat-gap alert,
    * not a smoothing candidate, and painting it with stale data would
    * hide exactly the incident the reference polls for.
    *
    * Scale shape: hourly DECIMAL sums are one exchange with map-side
    * partials; "now" derives from that tiny frame (broadcast, never a
    * second events scan); rows older than `horizon + maxFill` are
    * dropped BEFORE the per-device lag window (a fill can only
    * originate within maxFill of the horizon start), so window input is
    * bounded by devices × window hours — the output's own size — not
    * corpus history. Fill rows are generated map-side from each gap's
    * bounding pair (the LOCF value IS the gap's left edge — no second
    * window pass); Spark's sequence() would count DOWN for an empty
    * range, so the clip guard below is load-bearing. */
  def gapFill(spark: SparkSession, sfDir: String,
      maxFillHours: Int = 12, horizonHours: Int = 168,
      linear: Boolean = false): DataFrame =
    gapFillOf(Tables.events(spark, sfDir), maxFillHours, horizonHours, linear)

  /** A49 over an arbitrary events frame (spec entry — plant gaps on
    * both sides of the fill cap): needs (user_id, ts, value).
    * `linear` switches LOCF for linear interpolation between the
    * gap's edges (the dashboard's other fill mode — right for a
    * continuously-varying level like temperature, wrong for a
    * counter): the synthesized value is prev + (next − prev) ·
    * (i − prev_h) / (next_h − prev_h), a fixed IEEE tree over the
    * DECIMAL edge sums, so it hash-checks like the LOCF mode. */
  def gapFillOf(events: DataFrame,
      maxFillHours: Int, horizonHours: Int,
      linear: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(maxFillHours >= 2 && horizonHours > maxFillHours,
      s"need maxFillHours >= 2 and horizonHours > maxFillHours " +
        s"(got $maxFillHours / $horizonHours)")
    // PINNED (eager localCheckpoint): four consumers read this frame —
    // the now-agg, the lag window, and both union branches — and Spark
    // plans each as its own subtree, so without the pin the CORPUS
    // scan + hourly aggregation run 4× (observed as 8 parquet scans in
    // the formatted plan; PlanSpec pins the fix). The pinned frame is
    // devices × active-hours — output-sized, not corpus-sized.
    val hourly = events
      .filter($"value".isNotNull)
      .select($"user_id", expr(s"$tsUs div 3600000000").as("h"),
        $"value".cast("decimal(18,4)").as("v"))
      .groupBy($"user_id", $"h")
      .agg(sum($"v").as("m"))
      .localCheckpoint(true)
    val now = hourly.agg(max($"h").as("now_h"))
    // horizon start; keep maxFill extra hours so boundary gaps still fill
    val recent = hourly.crossJoin(broadcast(now))
      .withColumn("cut_h", $"now_h" - (horizonHours - 1))
      .filter($"h" >= $"cut_h" - maxFillHours)
    val w = Window.partitionBy($"user_id").orderBy($"h")
    val lagged = recent
      .withColumn("prev_h", lag($"h", 1).over(w))
      .withColumn("prev_m", lag($"m", 1).over(w))
    val observed = lagged.filter($"h" >= $"cut_h")
      .select($"user_id", ($"h" * 3600000000L).as("hour_us"),
        $"m".cast("double").as("metric_sum"), lit(false).as("filled"))
    val fills = lagged
      .filter($"prev_h".isNotNull &&
        $"h" - $"prev_h" >= 2 && $"h" - $"prev_h" <= maxFillHours)
      .withColumn("fill_from", greatest($"prev_h" + 1, $"cut_h"))
      .filter($"fill_from" <= $"h" - 1) // sequence() counts DOWN on empty
      .select($"user_id", $"prev_h", $"h",
        $"prev_m".cast("double").as("pm"), $"m".cast("double").as("nm"),
        explode(sequence($"fill_from", $"h" - 1)).as("fh"))
      .select($"user_id", ($"fh" * 3600000000L).as("hour_us"),
        (if (linear)
          $"pm" + ($"nm" - $"pm") *
            (($"fh" - $"prev_h").cast("double") /
              ($"h" - $"prev_h").cast("double"))
        else $"pm").as("metric_sum"),
        lit(true).as("filled"))
    observed.union(fills).orderBy($"user_id", $"hour_us")
  }

  def gapFillSql(maxFillHours: Int = 12, horizonHours: Int = 168,
      linear: Boolean = false): String = {
    val fillExpr =
      if (linear)
        """CAST(prev_m AS DOUBLE) + (CAST(m AS DOUBLE) - CAST(prev_m AS DOUBLE))
          |      * (CAST(fh - prev_h AS DOUBLE) / CAST(h - prev_h AS DOUBLE))""".stripMargin
      else "CAST(prev_m AS DOUBLE)"
    s"""WITH hourly AS (
       |  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
       |    SUM(CAST(value AS DECIMAL(18,4))) AS m
       |  FROM events WHERE value IS NOT NULL
       |  GROUP BY 1, 2),
       |now_h AS (SELECT MAX(h) AS now_h FROM hourly),
       |rec AS (
       |  SELECT user_id, h, m, now_h - (${horizonHours} - 1) AS cut_h
       |  FROM hourly, now_h
       |  WHERE h >= now_h - (${horizonHours} - 1) - ${maxFillHours}),
       |lagged AS (
       |  SELECT user_id, h, m, cut_h,
       |    lag(h) OVER w AS prev_h, lag(m) OVER w AS prev_m
       |  FROM rec
       |  WINDOW w AS (PARTITION BY user_id ORDER BY h)),
       |obs AS (
       |  SELECT user_id, h * 3600000000 AS hour_us,
       |    CAST(m AS DOUBLE) AS metric_sum, FALSE AS filled
       |  FROM lagged WHERE h >= cut_h),
       |fills AS (
       |  SELECT user_id, fh * 3600000000 AS hour_us,
       |    $fillExpr AS metric_sum, TRUE AS filled
       |  FROM lagged,
       |    UNNEST(generate_series(GREATEST(prev_h + 1, cut_h), h - 1)) AS u(fh)
       |  WHERE prev_h IS NOT NULL
       |    AND h - prev_h >= 2 AND h - prev_h <= ${maxFillHours})
       |SELECT * FROM obs UNION ALL SELECT * FROM fills
       |ORDER BY user_id, hour_us""".stripMargin
  }

  // ---------------------------------------------------------------- A60
  /** CAPACITY FORECAST — per-device OLS trend on a metric plus the
    * projected time-to-threshold (the "disk fills in N days" /
    * "temperature crosses the limit next week" report every capacity
    * planner runs). The fleet-sized answer to the reference's manual
    * "is this metric drifting" inspection (putmedia_check.sh polls a
    * window's statistics; this extrapolates them).
    *
    * Scale shape: ONE map-side-partial aggregate per device collecting
    * the five regression moments (n, Σx, Σy, Σxy, Σx²) plus max(x) —
    * O(1) state per device however long the series, no window, no
    * sort, no second scan. Slope/intercept/ETA come out of the exact
    * moments in closed form on the reduced fleet-sized frame.
    *
    * Oracle parity (SURVEY §4): x = WHOLE SECONDS rebased to the feed
    * epoch (exact integer division both engines — micros-scale x
    * overflows DuckDB's int64 DECIMAL(18) multiply kernel; seconds
    * keep every x·x and x·y raw product under 2⁶³), moments summed as
    * DECIMAL (x at DECIMAL(18,0), y at DECIMAL(18,4)), each moment
    * cast to DOUBLE once, and the slope/ETA arithmetic written as the
    * same IEEE expression tree in both engines (the B26 discipline).
    * Devices need ≥ `minPoints` samples and nonzero x-variance. */
  def capacityForecast(spark: SparkSession, sfDir: String,
      threshold: Double = 400.0, minPoints: Int = 3): DataFrame =
    capacityForecastOf(Tables.events(spark, sfDir), threshold, minPoints)

  /** The kernel over an arbitrary events frame (user_id, ts, value,
    * event_type) — lets the spec plant a deterministic ramp and check
    * the fitted slope/ETA against the planted truth. */
  def capacityForecastOf(events: DataFrame, threshold: Double = 400.0,
      minPoints: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(minPoints >= 2, s"minPoints $minPoints < 2 cannot fit a line")
    val x = expr(s"(unix_micros(ts) - ${FeedEpochUs}L) div 1000000")
    val xd = x.cast("decimal(18,0)")
    val y = $"value".cast("decimal(18,4)")
    val m = events
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_samples"),
        sum(xd).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(xd * y).cast("double").as("sxy"),
        sum(xd * xd).cast("double").as("sxx"),
        max(x).cast("double").as("xmax"))
    val n = $"n_samples"
    val denom = n * $"sxx" - $"sx" * $"sx"
    val slopeSec = (n * $"sxy" - $"sx" * $"sy") / denom
    val slopeDay = slopeSec * lit(SecPerDay)
    val projected = ($"sy" - slopeSec * $"sx") / n + slopeSec * $"xmax"
    m.filter(n >= minPoints && denom > 0.0)
      .select($"user_id", n,
        round(slopeDay, 6).as("slope_per_day"),
        round(projected, 6).as("projected_now"),
        round(when(slopeDay > 0.0 && projected < threshold,
          (lit(threshold) - projected) / slopeDay), 6)
          .as("days_to_breach"))
      .orderBy($"user_id")
  }

  // ---------------------------------------------------------------- A62
  /** FORECAST ACCURACY — the honest-forecasting backtest A60 needs
    * before anyone pages on its ETAs: fit the trend on the history
    * BEFORE a cutoff, score it on the holdout AFTER, report per-device
    * MAE and signed bias (a model can have a small MAE and still be
    * systematically early — bias is the "always pages a day late"
    * smell). Devices without enough training points or holdout samples
    * drop; a fleet-wide reviewer aggregates the output, which is
    * device-sized.
    *
    * Scale shape: TWO passes over events split by the cutoff predicate
    * (both pushed to the scan — date-partitioned storage prunes each
    * side); the training pass is A60's one-exchange moment aggregate
    * reduced to a FLEET-sized frame, which then joins the holdout side
    * — broadcast at scale, so the holdout pass stays map-local until
    * its own per-device error aggregate. Per-row errors are exact-
    * identical IEEE doubles; they enter the aggregate as INTEGER
    * MICROS via floor(x·1e6 + .5) — pure IEEE ops both engines — so
    * sum order cannot drift the reported MAE. */
  def forecastAccuracy(spark: SparkSession, sfDir: String,
      cutoff: String = "2024-01-22", minPoints: Int = 3): DataFrame =
    forecastAccuracyOf(Tables.events(spark, sfDir), cutoff, minPoints)

  def forecastAccuracyOf(events: DataFrame, cutoff: String = "2024-01-22",
      minPoints: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(minPoints >= 2, s"minPoints $minPoints < 2 cannot fit a line")
    val cutTs = lit(cutoff).cast("timestamp")
    val x = expr(s"(unix_micros(ts) - ${FeedEpochUs}L) div 1000000")
    val xd = x.cast("decimal(18,0)")
    val y = $"value".cast("decimal(18,4)")
    val samples = events
      .filter($"event_type" === "purchase" && $"value".isNotNull)
    val m = samples.filter($"ts" < cutTs)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_train"),
        sum(xd).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(xd * y).cast("double").as("sxy"),
        sum(xd * xd).cast("double").as("sxx"))
    val n = $"n_train"
    val denom = n * $"sxx" - $"sx" * $"sx"
    val slopeSec = (n * $"sxy" - $"sx" * $"sy") / denom
    val fit = m.filter(n >= minPoints && denom > 0.0)
      .select($"user_id", n, slopeSec.as("slope_sec"),
        (($"sy" - slopeSec * $"sx") / n).as("intercept"))
    val holdout = samples.filter($"ts" >= cutTs)
      .select($"user_id", x.cast("double").as("xh"),
        $"value".as("yh"))
    // Per-row errors quantize to integer MICROS via floor(x·1e6 + .5):
    // pure IEEE ops, bit-identical in both engines. (A double→DECIMAL
    // cast here is NOT portable on computed values: Spark rounds the
    // shortest decimal repr, DuckDB the exact binary value — at sf0.1
    // a handful of holdout errors sat on 1e-6 boundaries and the two
    // casts disagreed by one ulp of the report.)
    val errQ = (c: org.apache.spark.sql.Column) => floor(c * lit(1e6) + lit(0.5)).cast("long")
    holdout.join(broadcast(fit), Seq("user_id"))
      .withColumn("err", $"yh" - ($"intercept" + $"slope_sec" * $"xh"))
      .groupBy($"user_id", $"n_train", $"slope_sec")
      .agg(count(lit(1)).as("n_holdout"),
        (sum(errQ(abs($"err"))).cast("double") / lit(1e6) /
          count(lit(1))).as("mae"),
        (sum(errQ($"err")).cast("double") / lit(1e6) /
          count(lit(1))).as("bias"))
      // mae/bias ship UNrounded: they are exact integer-micro sums
      // through an identical IEEE chain, so the raw doubles already
      // match bit-for-bit — a final ROUND would reintroduce the
      // boundary problem (sum/n over quantized micros lands on exact
      // .5e-6 values, where Spark's string-based HALF_UP and DuckDB's
      // binary round disagree)
      .select($"user_id", $"n_train", $"n_holdout",
        round($"slope_sec" * lit(SecPerDay), 6).as("slope_per_day"),
        $"mae", $"bias")
      .orderBy($"user_id")
  }

  def forecastAccuracySql(cutoff: String = "2024-01-22",
      minPoints: Int = 3): String =
    s"""WITH p AS (
       |  SELECT user_id, ts,
       |    (epoch_us(ts) - 1704067200000000) // 1000000 AS x,
       |    value,
       |    CAST(value AS DECIMAL(18,4)) AS y
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
       |m AS (
       |  SELECT user_id, COUNT(*) AS n_train,
       |    CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
       |    CAST(SUM(y) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sxx
       |  FROM p WHERE ts < TIMESTAMP '$cutoff' GROUP BY user_id),
       |fit AS (
       |  SELECT user_id, n_train,
       |    (n_train * sxy - sx * sy) / (n_train * sxx - sx * sx) AS slope_sec,
       |    (sy - (n_train * sxy - sx * sy) / (n_train * sxx - sx * sx) * sx) / n_train AS intercept
       |  FROM m
       |  WHERE n_train >= ${minPoints} AND n_train * sxx - sx * sx > 0.0),
       |h AS (
       |  SELECT p.user_id, n_train, slope_sec,
       |    value - (intercept + slope_sec * CAST(x AS DOUBLE)) AS err
       |  FROM p JOIN fit ON p.user_id = fit.user_id
       |  WHERE ts >= TIMESTAMP '$cutoff')
       |SELECT user_id, n_train, COUNT(*) AS n_holdout,
       |  ROUND(slope_sec * ${SecPerDay}, 6) AS slope_per_day,
       |  CAST(SUM(CAST(floor(abs(err) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*) AS mae,
       |  CAST(SUM(CAST(floor(err * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*) AS bias
       |FROM h GROUP BY user_id, n_train, slope_sec
       |ORDER BY user_id""".stripMargin

  /** The synthetic feed's first day (2024-01-01 UTC) in epoch micros —
    * the x rebase keeping regression moments inside DECIMAL(18). Public:
    * the A61 streaming twin rebases against the same origin. */
  val FeedEpochUs = 1704067200000000L
  private val SecPerDay = 86400.0

  def capacityForecastSql(threshold: Double = 400.0,
      minPoints: Int = 3): String =
    s"""WITH p AS (
       |  SELECT user_id,
       |    (epoch_us(ts) - 1704067200000000) // 1000000 AS x,
       |    CAST(value AS DECIMAL(18,4)) AS y
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
       |m AS (
       |  SELECT user_id, COUNT(*) AS n_samples,
       |    CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
       |    CAST(SUM(y) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
       |    CAST(MAX(x) AS DOUBLE) AS xmax
       |  FROM p GROUP BY user_id)
       |SELECT user_id, n_samples,
       |  ROUND((n_samples * sxy - sx * sy) / (n_samples * sxx - sx * sx) * ${SecPerDay}, 6) AS slope_per_day,
       |  ROUND((sy - (n_samples * sxy - sx * sy) / (n_samples * sxx - sx * sx) * sx) / n_samples + (n_samples * sxy - sx * sy) / (n_samples * sxx - sx * sx) * xmax, 6) AS projected_now,
       |  ROUND(CASE WHEN (n_samples * sxy - sx * sy) / (n_samples * sxx - sx * sx) * ${SecPerDay} > 0.0
       |    AND (sy - (n_samples * sxy - sx * sy) / (n_samples * sxx - sx * sx) * sx) / n_samples + (n_samples * sxy - sx * sy) / (n_samples * sxx - sx * sx) * xmax < ${threshold}
       |    THEN (${threshold} - ((sy - (n_samples * sxy - sx * sy) / (n_samples * sxx - sx * sx) * sx) / n_samples + (n_samples * sxy - sx * sy) / (n_samples * sxx - sx * sx) * xmax))
       |      / ((n_samples * sxy - sx * sy) / (n_samples * sxx - sx * sx) * ${SecPerDay}) END, 6) AS days_to_breach
       |FROM m
       |WHERE n_samples >= ${minPoints} AND n_samples * sxx - sx * sx > 0.0
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A64
  /** LEVEL-SHIFT detection (single change point per device) — WHEN a
    * device's metric stepped, not just that it is now anomalous: the
    * split of the per-device series maximizing |mean-before −
    * mean-after| with a minimum segment size on both sides (binary
    * segmentation's first step, the classic AMOC formulation). The
    * question A31/A36 cannot answer: CUSUM says "drifted past the
    * budget", this says "at 14:32, from 48 to 63" — the row an
    * incident timeline starts from.
    *
    * Plan: EVERY ROW IS A CANDIDATE SPLIT — one running-sum window
    * per device (rank + prefix sum in the same partitioned window
    * frame) turns each row into (left n/sum, right n/sum) by
    * subtraction from the device totals, so the whole split scan is
    * one window stage + one argmax aggregate on ONE device-key
    * exchange; no per-split re-aggregation, no quadratic anything,
    * no mapPartitions. Sums ride DECIMAL(18,4) (order-free, exact);
    * means and the shift are identical IEEE divisions; the argmax
    * tie-breaks to the EARLIEST qualifying split via a min-struct on
    * (−|shift|, rank). */
  def levelShift(spark: SparkSession, sfDir: String,
      minSeg: Int = 5): DataFrame =
    levelShiftOf(Tables.events(spark, sfDir), minSeg)

  /** A64 over an arbitrary events frame (spec entry — plant a step
    * series with a known change point). */
  def levelShiftOf(events: DataFrame, minSeg: Int = 5): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(minSeg >= 1, s"minSeg $minSeg must be positive")
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val wAll = Window.partitionBy($"user_id")
    val ev = events
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .select($"user_id", expr(tsUs).as("us"), $"event_id",
        $"value".cast("decimal(18,4)").as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("lsum", sum($"v").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tsum", sum($"v").over(wAll))
    val cand = ev
      .filter($"rn" >= minSeg && $"n" - $"rn" >= minSeg)
      .withColumn("left_mean",
        $"lsum".cast("double") / $"rn")
      .withColumn("right_mean",
        ($"tsum" - $"lsum").cast("double") / ($"n" - $"rn"))
      .withColumn("shift", $"right_mean" - $"left_mean")
      .withColumn("ashift", abs($"shift"))
    cand.groupBy($"user_id")
      .agg(min(struct((-$"ashift").as("na"), $"rn", $"us", $"shift",
        $"left_mean", $"right_mean", $"n")).as("b"))
      .select($"user_id",
        $"b.n".as("n_events"),
        $"b.rn".cast("int").as("split_rank"),
        $"b.us".as("split_us"),
        round($"b.left_mean", 6).as("left_mean"),
        round($"b.right_mean", 6).as("right_mean"),
        round($"b.shift", 6).as("shift"))
      .orderBy($"user_id")
  }

  def levelShiftSql(minSeg: Int = 5): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id,
       |    CAST(value AS DECIMAL(18,4)) AS v
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
       |r AS (
       |  SELECT user_id, us, event_id, v,
       |    ROW_NUMBER() OVER w AS rn,
       |    SUM(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS lsum,
       |    COUNT(*) OVER (PARTITION BY user_id) AS n,
       |    SUM(v) OVER (PARTITION BY user_id) AS tsum
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |cand AS (
       |  SELECT user_id, us, rn, n,
       |    CAST(lsum AS DOUBLE) / rn AS left_mean,
       |    CAST(tsum - lsum AS DOUBLE) / (n - rn) AS right_mean,
       |    CAST(tsum - lsum AS DOUBLE) / (n - rn)
       |      - CAST(lsum AS DOUBLE) / rn AS shift
       |  FROM r WHERE rn >= $minSeg AND n - rn >= $minSeg),
       |best AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY abs(shift) DESC, rn) AS pick
       |  FROM cand)
       |SELECT user_id, n AS n_events, CAST(rn AS INT) AS split_rank,
       |  us AS split_us,
       |  ROUND(left_mean, 6) AS left_mean,
       |  ROUND(right_mean, 6) AS right_mean,
       |  ROUND(shift, 6) AS shift
       |FROM best WHERE pick = 1
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A63
  /** ANOMALY ENSEMBLE — one fleet verdict from the three independent
    * detectors (A31 z-score, A52 median/MAD, A36 CUSUM): which devices
    * are flagged, by HOW MANY detectors, with each detector's evidence
    * count. The triage row an on-call reads first — a device all three
    * detectors agree on outranks thirty single-detector blips, and a
    * CUSUM-only hit (sustained small drift, invisible to both
    * point-outlier detectors) is a different incident class than a
    * spike (z + MAD, CUSUM silent). Also the A58 incident-group
    * generator's natural input.
    *
    * Scale shape: each detector is its own pruned scan of the purchase
    * slice (predicate pushed; three parallel one-exchange passes — at
    * 100 TB three pushed scans beat pinning a corpus-sized slice), and
    * every post-detector frame is fleet-bounded: two outlier-count
    * aggregates, the CUSUM alarm filter, then fleet-sized FULL OUTER
    * joins. Detector params are the members' own defaults; the
    * composition reuses the member kernels verbatim (zscoreOutliersOf /
    * madOutliersOf / cusumOf), so ensemble and member verdicts cannot
    * drift. */
  def anomalyEnsemble(spark: SparkSession, sfDir: String,
      k: Double = 2.0, kMad: Double = 3.5, target: Double = 50.0,
      slack: Double = 2.5, h: Double = 200.0): DataFrame =
    anomalyEnsembleOf(Tables.events(spark, sfDir), k, kMad, target, slack, h)

  /** A63 over an arbitrary events frame (spec entry — plant a spike
    * device, a drift device, and a healthy device). */
  def anomalyEnsembleOf(events: DataFrame, k: Double = 2.0,
      kMad: Double = 3.5, target: Double = 50.0, slack: Double = 2.5,
      h: Double = 200.0): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val z = zscoreOutliersOf(events, k).groupBy($"user_id")
      .agg(count(lit(1)).as("z_events"))
    val m = madOutliersOf(events, kMad).groupBy($"user_id")
      .agg(count(lit(1)).as("mad_events"))
    val c = cusumOf(events, target, slack, h).filter($"alarm")
      .select($"user_id", $"cusum_max")
    z.join(m, Seq("user_id"), "full_outer")
      .join(c, Seq("user_id"), "full_outer")
      .select($"user_id",
        coalesce($"z_events", lit(0L)).as("z_events"),
        coalesce($"mad_events", lit(0L)).as("mad_events"),
        $"cusum_max".isNotNull.as("cusum_alarm"),
        round($"cusum_max", 6).as("cusum_max"),
        ($"z_events".isNotNull.cast("int") +
          $"mad_events".isNotNull.cast("int") +
          $"cusum_max".isNotNull.cast("int")).as("n_detectors"))
      .orderBy($"n_detectors".desc, $"user_id")
  }

  /** The composition oracle: the A31, A52, and A36 oracle bodies as
    * CTEs (the CUSUM fold via the A36 list_reduce technique), full
    * outer joined per device. */
  def anomalyEnsembleSql(k: Double = 2.0, kMad: Double = 3.5,
      target: Double = 50.0, slack: Double = 2.5,
      h: Double = 200.0): String = {
    val ref = target + slack
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us, value
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
       |mo AS (
       |  SELECT user_id, COUNT(*) AS n,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
       |  FROM e GROUP BY user_id),
       |st AS (
       |  SELECT user_id, sx / n AS mu,
       |    sqrt(greatest((sxx - sx * sx / n) / n, 0.0)) AS sigma
       |  FROM mo),
       |zc AS (
       |  SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS z_events
       |  FROM e JOIN st USING (user_id)
       |  WHERE abs(e.value - st.mu) > $k * st.sigma
       |  GROUP BY e.user_id),
       |med AS (
       |  SELECT user_id, ROUND(quantile_cont(value, 0.5), 4) AS med
       |  FROM e GROUP BY user_id),
       |dv AS (
       |  SELECT e.user_id, ROUND(ABS(e.value - med.med), 4) AS absdev
       |  FROM e JOIN med USING (user_id)),
       |mad AS (
       |  SELECT user_id, ROUND(quantile_cont(absdev, 0.5), 4) AS mad
       |  FROM dv GROUP BY user_id),
       |mc AS (
       |  SELECT dv.user_id, CAST(COUNT(*) AS BIGINT) AS mad_events
       |  FROM dv JOIN mad USING (user_id)
       |  WHERE mad.mad > 0.0 AND dv.absdev / (mad.mad * 1.4826) > $kMad
       |  GROUP BY dv.user_id),
       |cv AS (
       |  SELECT user_id, list(value ORDER BY us, event_id) AS vals
       |  FROM e GROUP BY user_id),
       |cu AS (
       |  SELECT user_id,
       |    list_reduce(
       |      list_prepend([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
       |        list_transform(vals, el -> [CAST(el AS DOUBLE), CAST(el AS DOUBLE)])),
       |      (acc, x) -> [greatest(CAST(0.0 AS DOUBLE), acc[1] + (x[1] - $ref)),
       |                   greatest(acc[2],
       |                     greatest(CAST(0.0 AS DOUBLE), acc[1] + (x[1] - $ref)))]) AS st
       |  FROM cv),
       |ca AS (
       |  SELECT user_id, st[2] AS cusum_max FROM cu WHERE st[2] > $h)
       |SELECT COALESCE(zc.user_id, mc.user_id, ca.user_id) AS user_id,
       |  COALESCE(z_events, 0) AS z_events,
       |  COALESCE(mad_events, 0) AS mad_events,
       |  ca.user_id IS NOT NULL AS cusum_alarm,
       |  ROUND(cusum_max, 6) AS cusum_max,
       |  CAST((CASE WHEN zc.user_id IS NOT NULL THEN 1 ELSE 0 END)
       |    + (CASE WHEN mc.user_id IS NOT NULL THEN 1 ELSE 0 END)
       |    + (CASE WHEN ca.user_id IS NOT NULL THEN 1 ELSE 0 END) AS INT)
       |    AS n_detectors
       |FROM zc
       |FULL OUTER JOIN mc ON zc.user_id = mc.user_id
       |FULL OUTER JOIN ca ON COALESCE(zc.user_id, mc.user_id) = ca.user_id
       |ORDER BY n_detectors DESC, user_id""".stripMargin
  }
}
