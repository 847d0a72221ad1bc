package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function inventory (SURVEY.md §2.6 W1–W6) — the heart of the
  * reference workload: per-entity trailing means, lags, partition maxima
  * and z-scores over a logical clock.
  *
  * Mapped onto the events table: partition key user_id (the reference's
  * (dataset, unit_nr)), order key (epoch-micros ts, event_id) (the
  * reference's time_cycles). All five feature families share ONE window
  * partitioning+ordering, so Catalyst plans a single Exchange + Sort
  * feeding one WindowExec — at 100 TB that is exactly one shuffle for the
  * whole feature table (SURVEY.md §4 physical strategy).
  */
object Windows {

  private def ordered = Window.partitionBy("user_id")
    .orderBy(tsUs(col("ts")), col("event_id"))
  private def unordered = Window.partitionBy("user_id")

  /** The events table with the window family's ONE hash(user_id)
    * exchange pinned at the session's shuffle parallelism (r16 plan
    * audit): the table is byte-tiny (~2.6 MB at sf0.1) but every window
    * here does nontrivial per-row work (frame aggregates, rank
    * bookkeeping), so AQE's byte-based coalescing collapsed the
    * ENSURE_REQUIREMENTS exchange to ONE partition and the whole
    * WindowExec ran serially — and the output-contract sort's range
    * sampling re-ran that serial stage a second time (every executed
    * plan showed `AQEShuffleRead coalesced` under the window). The
    * spread IS the window's own exchange (same key, so EnsureRequirements
    * adds nothing on top — exchange count unchanged), just pinned past
    * the byte-stats coalesce; [[graft.spreadScan]]'s guard declines on a
    * production multi-split store, and the partition count is the
    * session's shuffle parallelism — scale-parameterised, not a
    * local[32] constant. Per-query before/after in OPTIMIZATION_r16.md;
    * queries where the 32-task waves did NOT pay for themselves keep the
    * plain scan with the measured number in a comment.
    */
  private def eventsSpread(s: SparkSession, d: String): DataFrame =
    spreadScan(Tables.events(s, d), col("user_id"))

  /** W1 (turbine_etl_dbt/models/fct_cycles_features.sql:29-35): trailing
    * 5-row mean, min_periods=1 semantics (partial windows at series start
    * average whatever rows exist — exactly what ROWS BETWEEN gives).
    */
  private def w1Rolling5(s: SparkSession, d: String): DataFrame =
    eventsSpread(s, d)
      .select(col("event_id"),
        r6(avg(col("value")).over(ordered.rowsBetween(-4, 0))).as("mean5"))
      .orderBy("event_id")

  /** W2 (fct_cycles_features.sql:37-43): trailing 20-row mean. */
  private def w2Rolling20(s: SparkSession, d: String): DataFrame =
    eventsSpread(s, d)
      .select(col("event_id"),
        r6(avg(col("value")).over(ordered.rowsBetween(-19, 0))).as("mean20"))
      .orderBy("event_id")

  /** W3 (fct_cycles_features.sql:45-47): first difference via lag; first
    * row per partition → null.
    */
  private def w3LagDiff(s: SparkSession, d: String): DataFrame =
    eventsSpread(s, d)
      .select(col("event_id"),
        r6(col("value") - lag(col("value"), 1).over(ordered)).as("d_value"))
      .orderBy("event_id")

  /** W4/A2 (fct_cycles_features.sql:23-26): unbounded partition max minus
    * current (the RUL shape: distance to the partition's peak).
    */
  private def w4PartitionMax(s: SparkSession, d: String): DataFrame =
    // No eventsSpread (r16, measured): the running max is O(1)/row with
    // no frame state, so the serial window beats the 32-task waves —
    // 0.59 baseline vs 0.67/0.71 spread in two subset runs.
    Tables.events(s, d)
      .select(col("event_id"),
        r6(max(col("value")).over(unordered) - col("value")).as("headroom"))
      .orderBy("event_id")

  /** W5 (scripts/etl_turbofan.py:27-31): per-partition z-score with
    * population stddev (pandas ddof=0) and a 0/0→null guard for constant
    * partitions (SURVEY.md §7.4.1).
    */
  private def w5Zscore(s: SparkSession, d: String): DataFrame = {
    val sd = stddev_pop(col("value")).over(unordered)
    val mu = avg(col("value")).over(unordered)
    eventsSpread(s, d)
      .select(col("event_id"),
        r6(when(sd =!= 0, (col("value") - mu) / sd)).as("z_value"))
      .orderBy("event_id")
  }

  /** W6 (scripts/ml_pipeline.py:191): ranking family. */
  private def w6RowNumber(s: SparkSession, d: String): DataFrame =
    eventsSpread(s, d)
      .select(col("event_id"),
        row_number().over(ordered).as("rn"),
        rank().over(Window.partitionBy("user_id").orderBy("event_type")).as("rk"),
        dense_rank().over(Window.partitionBy("user_id").orderBy("event_type")).as("drk"))
      .orderBy("event_id")

  /** Flagship: the whole CMAPSS feature table in ONE plan — rul (W4),
    * mean5/mean20 (W1/W2), diff (W3), z-score (W5) as a single select over
    * shared windows (scripts/etl_turbofan.py:93-103 intended semantics;
    * positional-concat fragility replaced by key-aligned expressions,
    * SURVEY.md §7.4.4).
    */
  def features(s: SparkSession, d: String): DataFrame =
    featureFrame(s, d).orderBy("event_id")

  /** The [[features]] rows without the output-contract sort, for writers
    * that do not need an order: a root sort's range sampling would run
    * the whole window plan once more before the write.
    */
  def featureFrame(s: SparkSession, d: String): DataFrame = {
    // stddev_pop and avg are one window function each; the z-score
    // reads them twice from the projection above the window.
    val (sd, mu) = (col("sd"), col("mu"))
    eventsSpread(s, d).select(
      col("user_id"), col("event_id"), col("value"),
      r6(max(col("value")).over(unordered) - col("value")).as("rul"),
      r6(avg(col("value")).over(ordered.rowsBetween(-4, 0))).as("mean5_value"),
      r6(avg(col("value")).over(ordered.rowsBetween(-19, 0))).as("mean20_value"),
      r6(col("value") - lag(col("value"), 1).over(ordered)).as("d_value"),
      stddev_pop(col("value")).over(unordered).as("sd"),
      avg(col("value")).over(unordered).as("mu"))
      .select(col("user_id"), col("event_id"), col("rul"), col("mean5_value"),
        col("mean20_value"), col("d_value"),
        r6(when(sd =!= 0, (col("value") - mu) / sd)).as("z_value"))
  }

  /** W7 (extension): gap-based sessionization — the standard log-pipeline
    * operator. A session starts when the gap to the previous event
    * exceeds 24h; session ids are a running sum of start flags over the
    * per-user ordered window, then per-session stats roll up. One shuffle
    * (user partition) feeds lag + running sum; the aggregate reuses the
    * same partitioning.
    */
  private def w7Sessionize(s: SparkSession, d: String): DataFrame = {
    val gapUs = 24L * 3600 * 1000000 // 24h in micros
    val newSession = when(
      (tsUs(col("ts")) - lag(tsUs(col("ts")), 1).over(ordered)).isNull ||
        (tsUs(col("ts")) - lag(tsUs(col("ts")), 1).over(ordered)) > gapUs,
      1L).otherwise(0L)
    eventsSpread(s, d)
      .withColumn("session_id",
        sum(newSession).over(ordered.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(tsUs(col("ts"))).as("start_us"),
        max(tsUs(col("ts"))).as("end_us"),
        dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** W12: the same gap-sessionization as [[w7Sessionize]] but through
    * Spark's NATIVE session_window aggregate (merging event-time session
    * state in the agg operator instead of lag+cumsum windows) — checked
    * against the identical gap-cumsum SQL oracle, proving the two
    * formulations coincide. This is the form that also runs on a stream
    * (session_window + watermark), where the lag/cumsum form cannot.
    */
  private def w12SessionWindow(s: SparkSession, d: String): DataFrame =
    eventsSpread(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "24 hours"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        tsUs(col("session_window.start")).as("start_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  /** Grouped exact percentiles (interpolated, matching quantile_cont) —
    * on [[Relational.gridQuantiles]]' distributed value grid: Spark's
    * exact `percentile` aggregate buffers every group member in one
    * reducer, a single-task OOM once any event type reaches
    * executor-memory scale; the grid form's per-group state is the
    * distinct value set, combined map-side.
    */
  private def w8Percentiles(s: SparkSession, d: String): DataFrame =
    Relational.gridQuantiles(eventsSpread(s, d), Seq("event_type"),
      "value", Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"))
      .orderBy("event_type")

  /** W18: longest consecutive-day activity streak per user — the
    * gaps-and-islands idiom. Distinct (user, epoch-day) pairs fall out
    * of a map-side-combinable aggregate (NOT `distinct` over raw events
    * — per-user daily volume collapses before the shuffle); the island
    * key is `day − row_number()` over the per-user day sequence, whose
    * window frame is the user's DISTINCT DAYS — bounded by the corpus
    * timespan, not its event volume — and two more combinable
    * aggregates (island length, max) finish it. Days are pure int64
    * epoch arithmetic (the es_retention lesson: no timezone-dependent
    * date truncation on either engine).
    */
  private def w18Streak(s: SparkSession, d: String): DataFrame = {
    val DayUs = 86400L * 1000000
    val days = eventsSpread(s, d)
      .select(col("user_id"), tsUs(col("ts")).as("tus"))
      .select(col("user_id"),
        expr(s"CAST(tus div ${DayUs}L AS BIGINT)").as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("_n")).drop("_n")
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max(col("len")).as("streak"))
      .orderBy("user_id")
  }

  /** W20: SCD-2 status history — collapse each user's event stream into
    * validity intervals of consecutive same-type runs (valid_from
    * inclusive, valid_to = next run's start, NULL while current): the
    * type-2 dimension build every warehouse ETL ships. One
    * user-partitioned window pass computes change flags and run ids
    * together; the interval window then runs over the RUN frame (one
    * row per run, bounded by the user's status changes, not their
    * event volume).
    */
  private def w20Scd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val prev = lag(col("event_type"), 1).over(w)
    eventsSpread(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsUs(col("ts")).as("tus"))
      .withColumn("chg",
        when(prev.isNull || col("event_type") =!= prev, 1).otherwise(0))
      .withColumn("run_id", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "run_id")
      .agg(max(col("event_type")).as("status"),
        min(col("tus")).as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy("user_id").orderBy("run_id")))
      .orderBy("user_id", "run_id")
  }

  /** W21 — forward fill (last observation carried forward): each
    * event's `props` replaced by the user's latest non-null props at or
    * before it. The sensor-stream repair every feature pipeline needs;
    * ONE pass over the standard per-user event shuffle with
    * `last(ignoreNulls)` over the unbounded-preceding frame — Spark
    * evaluates that frame incrementally (running state = the one held
    * value), so per-row cost is O(1) and per-task state is one value
    * per open partition, at any history length.
    */
  private def w21Ffill(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(tsUs(col("ts")), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // No eventsSpread (r16, measured): last(ignoreNulls) is O(1)/row
    // (one held value), so the serial window beats the 32-task waves —
    // 0.66 baseline vs 0.85/0.74 spread in two subset runs.
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("props"))
      .withColumn("props_ffill",
        last(col("props"), ignoreNulls = true).over(w))
      .select("event_id", "user_id", "props_ffill")
      .orderBy("event_id")
  }

  val queries: Map[String, Query] = Map(
    "w21_ffill" -> w21Ffill _,
    "w18_streak" -> w18Streak _,
    "w20_scd2" -> w20Scd2 _,
    "w12_session_window" -> w12SessionWindow _,
    "w7_sessionize" -> w7Sessionize _,
    "w8_percentiles" -> w8Percentiles _,
    "w1_rolling5" -> w1Rolling5 _,
    "w2_rolling20" -> w2Rolling20 _,
    "w3_lag_diff" -> w3LagDiff _,
    "w4_partition_max" -> w4PartitionMax _,
    "w5_zscore" -> w5Zscore _,
    "w6_row_number" -> w6RowNumber _,
    "wf_features" -> (features _))

  private val over = "PARTITION BY user_id ORDER BY epoch_us(ts), event_id"

  val oracle: Map[String, String] = Map(
    "w21_ffill" ->
      s"""SELECT event_id, user_id,
         |  last_value(props IGNORE NULLS) OVER ($over
         |    ROWS UNBOUNDED PRECEDING) AS props_ffill
         |FROM events ORDER BY event_id""".stripMargin,
    "w20_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS tus FROM events),
        |f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |      OR event_type <> lag(event_type) OVER w
        |    THEN 1 ELSE 0 END AS chg FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS run_id FROM f),
        |g AS (SELECT user_id, run_id, max(event_type) AS status,
        |    min(tus) AS valid_from FROM r GROUP BY 1, 2)
        |SELECT user_id, run_id, status, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
        |    AS valid_to
        |FROM g ORDER BY user_id, run_id""".stripMargin,
    "w18_streak" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp FROM d),
        |l AS (SELECT user_id, count(*) AS len FROM g GROUP BY user_id, grp)
        |SELECT user_id, max(len) AS streak FROM l GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Same gap-cumsum formulation as w7 rolled up to (session start,
    // count, sum) — with one boundary difference: Spark session windows
    // are end-EXCLUSIVE ([start, last_ts + gap)), so a gap of exactly
    // 24h starts a new session → the flag condition is >= here, vs the
    // strict > of w7's explicit-gap definition.
    "w12_session_window" ->
      s"""WITH flagged AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus,
         |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER ($over) IS NULL
         |    OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER ($over) >= 86400000000
         |    THEN 1 ELSE 0 END AS ns
         |FROM events),
         |sess AS (SELECT user_id, value, tus,
         |  sum(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |FROM flagged)
         |SELECT user_id, min(tus) AS start_us, count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
         |FROM sess GROUP BY user_id, session_id
         |ORDER BY user_id, start_us""".stripMargin,
    "w7_sessionize" ->
      s"""WITH flagged AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus,
         |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER ($over) IS NULL
         |    OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER ($over) > 86400000000
         |    THEN 1 ELSE 0 END AS ns
         |FROM events),
         |sess AS (SELECT user_id, value, tus,
         |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS session_id
         |FROM flagged)
         |SELECT user_id, session_id, count(*) AS n_events,
         |  min(tus) AS start_us, max(tus) AS end_us,
         |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
         |FROM sess GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,
    "w8_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "w1_rolling5" ->
      s"""SELECT event_id, round(avg(value) OVER ($over
         |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS mean5
         |FROM events ORDER BY event_id""".stripMargin,
    "w2_rolling20" ->
      s"""SELECT event_id, round(avg(value) OVER ($over
         |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS mean20
         |FROM events ORDER BY event_id""".stripMargin,
    "w3_lag_diff" ->
      s"""SELECT event_id, round(value - lag(value, 1) OVER ($over), 6) AS d_value
         |FROM events ORDER BY event_id""".stripMargin,
    "w4_partition_max" ->
      """SELECT event_id,
        |  round(max(value) OVER (PARTITION BY user_id) - value, 6) AS headroom
        |FROM events ORDER BY event_id""".stripMargin,
    "w5_zscore" ->
      """SELECT event_id, round(CASE WHEN sd <> 0 THEN (value - mu) / sd END, 6) AS z_value
        |FROM (SELECT event_id, value,
        |  stddev_pop(value) OVER (PARTITION BY user_id) AS sd,
        |  avg(value) OVER (PARTITION BY user_id) AS mu FROM events)
        |ORDER BY event_id""".stripMargin,
    "w6_row_number" ->
      s"""SELECT event_id, CAST(row_number() OVER ($over) AS INT) AS rn,
         |  CAST(rank() OVER (PARTITION BY user_id ORDER BY event_type) AS INT) AS rk,
         |  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS INT) AS drk
         |FROM events ORDER BY event_id""".stripMargin,
    "wf_features" ->
      s"""SELECT user_id, event_id,
         |  round(max(value) OVER (PARTITION BY user_id) - value, 6) AS rul,
         |  round(avg(value) OVER ($over ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS mean5_value,
         |  round(avg(value) OVER ($over ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS mean20_value,
         |  round(value - lag(value, 1) OVER ($over), 6) AS d_value,
         |  round(CASE WHEN stddev_pop(value) OVER (PARTITION BY user_id) <> 0
         |    THEN (value - avg(value) OVER (PARTITION BY user_id))
         |         / stddev_pop(value) OVER (PARTITION BY user_id) END, 6) AS z_value
         |FROM events ORDER BY event_id""".stripMargin)
}
