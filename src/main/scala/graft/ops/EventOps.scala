package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch analytics over the `events` table. The reference has no streaming
  * (SURVEY §2.10); these are the batch equivalents of the standard windowed
  * aggregations, with a Structured Streaming twin in graft.streaming.
  * All arithmetic is integer micros so a DuckDB oracle mirrors exactly.
  */
object EventOps {

  /** `value` summed as integer micro-units: double SUM is non-associative, so
    * Spark's partial aggregation and a serial oracle legitimately disagree at
    * scale (round-1 q_events_sessions hash mismatch). floor(value*1e6) is the
    * same double op in both engines; the BIGINT sum is order-insensitive. */
  private def sumMicro(value: org.apache.spark.sql.Column) =
    sum(floor(value * lit(1e6)).cast("long"))

  /** tumbling windows (integer bucket arithmetic, SQL-mirrorable). */
  def tumbling(events: DataFrame, windowSec: Long): DataFrame =
    events
      .withColumn("bucket", expr(s"unix_micros(cast(ts as timestamp)) DIV ${windowSec * 1000000L}"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), sumMicro(col("value")).as("sum_value_micro"))
      .select(col("event_type"), (col("bucket") * windowSec).as("window_start_sec"),
        col("n"), col("sum_value_micro"))

  /** AS-OF JOIN — for every `leftType` event, the latest `rightType` event of
    * the same user at-or-before it (inclusive, like DuckDB's `ASOF JOIN ...
    * ON l.ts >= r.ts`, which is the oracle). Spark has no native as-of
    * operator; a naive theta-join (`l.ts >= r.ts` + a per-left max) plans a
    * range join whose candidate set is the full per-user cross product. This
    * is the UNION-MERGE form instead: tag both sides, sort each user's rows
    * once by (ts, side) — right rows first at equal ts, making the match
    * inclusive — and carry the most recent right row forward with
    * last(ignoreNulls) over an unbounded-preceding window. ONE shuffle on
    * user_id, per-user linear work, no range-join blowup: the shape that
    * survives a 100 TB event log (SURVEY §2.10 generalization; the reference
    * is batch-only and has no temporal join).
    *
    * Right rows are pre-collapsed per (user_id, ts_us) — max(event_id) and
    * max(value_micro), each taken independently — so ties inside the right
    * side are deterministic in both engines.
    * Left rows with no prior right event keep NULL right columns (left join
    * semantics). Values travel as integer micros (partitioning-invariant
    * sums, exact in both engines). */
  def asofJoin(events: DataFrame, leftType: String, rightType: String): DataFrame = {
    val ev = events.withColumn("ts_us", expr("unix_micros(cast(ts as timestamp))"))
    val right = ev.filter(col("event_type") === rightType)
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("r_id"),
        max(floor(col("value") * lit(1e6)).cast("long")).as("r_value_micro"))
    val left = ev.filter(col("event_type") === leftType)
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val tagged = right
      .select(col("user_id"), col("ts_us"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"), col("r_id"), col("r_value_micro"))
      .unionByName(left.select(col("user_id"), col("ts_us"), lit(1).as("side"),
        col("event_id"), lit(null).cast("long").as("r_id"),
        lit(null).cast("long").as("r_value_micro")))
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("right_id", last(col("r_id"), ignoreNulls = true).over(w))
      .withColumn("right_ts_us",
        last(when(col("side") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .withColumn("right_value_micro",
        last(col("r_value_micro"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("user_id"), col("event_id").as("left_id"),
        col("ts_us").as("left_ts_us"), col("right_id"), col("right_ts_us"),
        col("right_value_micro"))
  }

  /** gap-based sessionization per user: lag + cumulative flag sum, then
    * per-session aggregates. */
  def sessionize(events: DataFrame, gapSec: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us")
    events
      .withColumn("ts_us", expr("unix_micros(cast(ts as timestamp))"))
      .withColumn("prev", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("ts_us") - col("prev") > gapSec * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        (floor((max(col("ts_us")) - min(col("ts_us"))) / lit(1000000L))).cast("long").as("duration_sec"),
        sumMicro(col("value")).as("sum_value_micro"))
  }

  /** First-order Markov transition matrix over per-user event streams —
    * the behavioral-model fit behind next-action prediction and anomaly
    * scoring: P(to | from) for every consecutive (event, next event) pair
    * within a user's (ts, event_id)-ordered history. Probabilities are
    * exact ppm integers (n·1e6 DIV row total), so the matrix is
    * engine-reproducible; the (ts_us, event_id) tie-break makes the LEAD
    * deterministic. ONE shuffle on user_id for the lead; the count
    * aggregate collapses map-side to ≤ |types|² rows, and the row
    * normalization is a window over that tiny result. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    events
      .withColumn("ts_us", expr("unix_micros(cast(ts as timestamp))"))
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(byUser))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("nxt").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_ppm",
        expr("n * 1000000 DIV sum(n) OVER (PARTITION BY from_type)"))
  }

  /** One-sided CUSUM changepoint / anomaly detection (Page, Biometrika
    * 1954 — public): per user, over events ordered by (ts_us, event_id),
    * the recurrence s_i = max(0, s_{i−1} + (v_i − target)) with an alarm
    * whenever s_i reaches h, after which s resets to 0 (the standard
    * restart protocol) — the classic drift detector (fraud spend, error
    * rates, metric regressions). The recurrence is inherently serial per
    * KEY but only per key: each user's stream collapses to one bounded
    * array (the per-track-window contract) and the recurrence runs as ONE
    * higher-order `aggregate` over it — no driver state, no UDF, one
    * user-keyed shuffle. Values travel as integer micros (floor(v·1e6),
    * the proven q_events_* convention), so every s_i, the alarm count,
    * first-alarm timestamp and peak statistic are exact BIGINTs that a
    * DuckDB recursive CTE reproduces bit-for-bit.
    *
    * Output: (user_id, n_events, n_alarms, first_alarm_ts, peak_s). */
  def cusum(events: DataFrame, targetMicro: Long, hMicro: Long): DataFrame = {
    val step = s"greatest(CAST(0 AS BIGINT), acc.s + e.v6 - ${targetMicro}L)"
    events
      .withColumn("ts_us", expr("unix_micros(cast(ts as timestamp))"))
      .withColumn("v6", floor(col("value") * lit(1e6)).cast("long"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("ts_us"), col("event_id"), col("v6")))).as("evs"))
      .withColumn("res", expr(
        s"""aggregate(
           |  evs,
           |  struct(CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS n_alarms,
           |         CAST(-1 AS BIGINT) AS first_ts, CAST(0 AS BIGINT) AS peak),
           |  (acc, e) -> struct(
           |    CASE WHEN $step >= ${hMicro}L THEN CAST(0 AS BIGINT)
           |         ELSE $step END AS s,
           |    acc.n_alarms +
           |      CASE WHEN $step >= ${hMicro}L THEN 1L ELSE 0L END AS n_alarms,
           |    CASE WHEN acc.first_ts < 0 AND $step >= ${hMicro}L
           |         THEN e.ts_us ELSE acc.first_ts END AS first_ts,
           |    greatest(acc.peak, $step) AS peak))""".stripMargin))
      .select(col("user_id"), size(col("evs")).cast("long").as("n_events"),
        col("res.n_alarms").as("n_alarms"),
        col("res.first_ts").as("first_alarm_ts"),
        col("res.peak").as("peak_s"))
  }

  /** Per-user z-score outlier counting WITHOUT sqrt or float: the |z| ≥ 1.5
    * test is the exact integer comparison 4·(n·x − s1)² ≥ 9·(n·s2 − s1²)
    * (both sides are the z² inequality multiplied through by n²·σ²·4 —
    * sign-safe since the variance numerator is non-negative) over
    * milli-unit values, so outlier counts are bit-decided with no
    * rounding convention at all. Degenerate users (zero variance) count
    * zero outliers by the strict contract 4·(…)² ≥ 9·0 only when the
    * deviation is also zero — a constant stream has no outliers. Value
    * bound for Long safety: n·max|x_milli| < 3·10⁹ per user (n ≤ ~4000
    * events at the 500k-milli value ceiling) — the per-user-window
    * contract; beyond it, pre-aggregate or drop to centi units.
    *
    * Scale shape: one user-keyed window to attach (n, s1, s2) + one
    * user-keyed count — same key, one exchange, AQE reuses it. */
  def zscoreOutliers(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    events
      .withColumn("x", floor(col("value") * lit(1e3)).cast("long"))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("s1", sum(col("x")).over(byUser))
      .withColumn("s2", sum(col("x") * col("x")).over(byUser))
      .withColumn("dev", col("n") * col("x") - col("s1"))
      .withColumn("var_num", col("n") * col("s2") - col("s1") * col("s1"))
      .withColumn("outlier",
        lit(4L) * col("dev") * col("dev") >= lit(9L) * col("var_num") &&
          col("dev") =!= 0L)
      .groupBy("user_id")
      .agg(min(col("n")).as("n_events"), min(col("s1")).as("sum_milli"),
        min(col("var_num")).as("var_num"),
        sum(when(col("outlier"), 1L).otherwise(0L)).as("n_outliers"))
  }

  /** Per-user inter-arrival gap statistics — the empirical basis for the
    * sessionization gap threshold (is 1800 s actually in the tail of the
    * user's cadence?) and the burst/idle cadence triage. All integer
    * micros: per user the gap count, min/max/sum gap, and how many gaps
    * exceed the session threshold — the LAST number is exactly the
    * session count minus one, an identity the fixture pins against
    * `sessionize`. ONE user-keyed shuffle for the lag window (the
    * per-track-window contract); the aggregate reuses the partitioning. */
  def interArrival(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    events
      .withColumn("ts_us", expr("unix_micros(cast(ts as timestamp))"))
      .withColumn("prev", lag(col("ts_us"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      .withColumn("gap", col("ts_us") - col("prev"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap_us"), max(col("gap")).as("max_gap_us"),
        sum(col("gap")).as("sum_gap_us"),
        sum(when(col("gap") > gapSec * 1000000L, 1L).otherwise(0L))
          .as("n_session_breaks"))
  }

  /** Gini concentration of per-user spend (Gini 1912 — public): the
    * whale/inequality diagnostic of a transaction stream, as an EXACT
    * RATIONAL — with per-user micro totals x sorted ascending (ties by
    * user_id) and ranked i = 1..n, gini_num = 2·Σ i·x_i − (n+1)·Σx and
    * gini_den = n·Σx; G = num/den needs no float ever. The rank is a
    * ROW_NUMBER over the |users|-sized totals table (users ≪ events —
    * the aggregate collapses first), not the event stream.
    *
    * Output single row: (n_users, total_micro, gini_num, gini_den,
    * gini_milli = 1000·num DIV den). */
  def spendGini(events: DataFrame): DataFrame = {
    val totals = events.groupBy(col("user_id"))
      .agg(sum(floor(col("value") * lit(1e6)).cast("long")).as("x"))
    val w = Window.orderBy(col("x"), col("user_id"))
    totals.withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("total_micro"),
        sum(col("i") * col("x")).as("ix"))
      .select(col("n_users"), col("total_micro"),
        (lit(2L) * col("ix") - (col("n_users") + 1) * col("total_micro"))
          .as("gini_num"),
        (col("n_users") * col("total_micro")).as("gini_den"))
      .withColumn("gini_milli", expr("1000 * gini_num div gini_den"))
  }

  /** Per-user behavioral entropy — Shannon entropy of each user's
    * event-type distribution (bots and single-purpose scripts are
    * low-entropy; the diversity triage of a behavioral pipeline), in the
    * EXACT BIGINT identity form of the image-entropy op: ent_num =
    * n·ln9(n) − Σ_type cnt·ln9(cnt) = n·H in nano-nats, under the proven
    * nano-LN convention. The `balanced` verdict compares against the
    * threshold in integer nano-nats — bit-decided. One (user, type) count
    * aggregate (map-side combinable, ≤ |types| rows per user) + one
    * user-keyed rollup. */
  def behaviorEntropy(events: DataFrame, minNanoNats: Long): DataFrame = {
    val cnt = events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    def ln9(c: Column): Column =
      round(log(c.cast("double")) * lit(1e9), 0).cast("long")
    cnt.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("c") * ln9(col("c"))).as("acc"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        (col("n_events") * ln9(col("n_events")) - col("acc")).as("ent_num"))
      .withColumn("balanced",
        col("ent_num") >= lit(minNanoNats) * col("n_events"))
  }

  /** Lagged cross-correlation between two event-type count series as
    * EXACT RATIONALS — the "does X lead Y?" product diagnostic (views →
    * purchases, deploys → errors): per lag L the Pearson numerator
    * cov_num = n·Σxy − Σx·Σy and both variance numerators over the
    * ZERO-FILLED tumbling-count series (missing buckets are real zeros —
    * dropping them biases the correlation; the grid spans the driver-known
    * [min, max] bucket range). All counts are integers, so every sum and
    * numerator is a BIGINT — the lead/lag ranking is bit-decided without
    * ever forming a float correlation.
    *
    * Scale shape: two bucket-keyed count aggregates + a range-table left
    * join; each lag is a bucket+L equi self-join of the (bucket, x, y)
    * series (localCheckpointed once, reused across lags); |lags| is a
    * small constant. */
  def lagCrossCorr(events: DataFrame, typeX: String, typeY: String,
                   windowSec: Long = 600L, maxLag: Int = 3): DataFrame = {
    val spark = events.sparkSession
    val b = events.withColumn("bucket",
      expr(s"unix_micros(cast(ts as timestamp)) DIV ${windowSec * 1000000L}"))
    val r = b.agg(min(col("bucket")), max(col("bucket"))).head()
    require(!r.isNullAt(0), "lagCrossCorr: no events — the bucket range [min, max] is undefined")
    val (b0, b1) = (r.getLong(0), r.getLong(1)) // driver scalars
    val xs = b.filter(col("event_type") === typeX)
      .groupBy("bucket").agg(count(lit(1)).as("xc"))
    val ys = b.filter(col("event_type") === typeY)
      .groupBy("bucket").agg(count(lit(1)).as("yc"))
    val series = spark.range(b0, b1 + 1).select(col("id").as("bucket"))
      .join(xs, Seq("bucket"), "left").join(ys, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("xc"), lit(0L)).as("x"),
        coalesce(col("yc"), lit(0L)).as("y"))
      .localCheckpoint(true)
    (0 to maxLag).map { l =>
      series.as("a")
        .join(series.as("b"), col("a.bucket") + l === col("b.bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a.x")).as("sum_x"), sum(col("b.y")).as("sum_y"),
          sum(col("a.x") * col("b.y")).as("sum_xy"),
          sum(col("a.x") * col("a.x")).as("sum_x2"),
          sum(col("b.y") * col("b.y")).as("sum_y2"))
        .select(lit(l.toLong).as("lag"), col("n_pairs"), col("sum_x"),
          col("sum_y"), col("sum_xy"),
          (col("n_pairs") * col("sum_xy") - col("sum_x") * col("sum_y"))
            .as("cov_num"),
          (col("n_pairs") * col("sum_x2") - col("sum_x") * col("sum_x"))
            .as("varx_num"),
          (col("n_pairs") * col("sum_y2") - col("sum_y") * col("sum_y"))
            .as("vary_num"))
    }.reduce(_.unionByName(_))
  }

  /** A/B conversion chi-square statistic as an EXACT RATIONAL (Pearson
    * 1900 — public): users split by the deterministic bucket user_id % 2,
    * "converted" = micro-exact `convType` spend ≥ minSpendMicro
    * (the sumMicro convention — a has-any-event definition is vacuous on
    * a dense synthetic stream); the 2×2 chi² =
    * N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)) is carried as
    * (chi2_num, chi2_den) — no float, no sqrt, the experiment verdict is
    * bit-decided (chi² ≥ 3.841 ⟺ 1000·num ≥ 3841·den, also emitted).
    * Long-safety bound: ~3·10⁵ users per cell keeps N·(ad−bc)² < 2⁶³
    * (document-and-require contract; shard the test beyond it).
    *
    * Scale shape: one user-keyed conversion aggregate (map-side
    * combinable) + one 4-cell rollup; the statistic is computed on four
    * scalars. */
  def abChiSquare(events: DataFrame, convType: String = "purchase",
                  minSpendMicro: Long = 600000000L): DataFrame = {
    val conv = events.groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === convType,
        floor(col("value") * lit(1e6)).cast("long")).otherwise(0L)).as("spend"))
      .withColumn("cv", when(col("spend") >= minSpendMicro, 1L).otherwise(0L))
      .withColumn("bucket", col("user_id") % 2)
    conv.agg(
        sum(when(col("bucket") === 0 && col("cv") === 1L, 1L).otherwise(0L)).as("a"),
        sum(when(col("bucket") === 0 && col("cv") === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(col("bucket") === 1 && col("cv") === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(col("bucket") === 1 && col("cv") === 0L, 1L).otherwise(0L)).as("d"))
      .select(
        (col("a") + col("b") + col("c") + col("d")).as("n_users"),
        col("a"), col("b"), col("c"), col("d"),
        ((col("a") + col("b") + col("c") + col("d")) *
          (col("a") * col("d") - col("b") * col("c")) *
          (col("a") * col("d") - col("b") * col("c"))).as("chi2_num"),
        ((col("a") + col("b")) * (col("c") + col("d")) *
          (col("a") + col("c")) * (col("b") + col("d"))).as("chi2_den"))
      .withColumn("significant_05",
        lit(1000L) * col("chi2_num") >= lit(3841L) * col("chi2_den"))
  }

  /** Ordered-funnel analysis: how many users reach each stage, where stage
    * i+1 counts only events STRICTLY AFTER the user's first qualifying
    * stage-i event (first-occurrence chaining — the standard product
    * funnel). Per stage: one filtered scan + one user-keyed min — every
    * join/agg is on user_id, so all stages co-partition on the same key and
    * AQE reuses the exchange; nothing event-sized crosses stages, only the
    * (user_id, first_ts) frontier (one row per surviving user). Strict `>`
    * and min() make the result tie-insensitive and engine-reproducible. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel: at least one stage")
    var frontier: DataFrame = null
    val perStage = stages.zipWithIndex.map { case (st, i) =>
      frontier =
        if (i == 0)
          events.filter(col("event_type") === st)
            .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        else
          events.filter(col("event_type") === st)
            .join(frontier.select(col("user_id"), col("t").as("prev_t")), Seq("user_id"))
            .filter(col("ts") > col("prev_t"))
            .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      frontier.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage"), lit(st).as("event_type"), col("n_users"))
    }
    perStage.reduce(_ unionByName _)
  }

  /** Classic retention matrix: cohort = the epoch-week of a user's first
    * event; each cell counts distinct users from that cohort active
    * week_offset weeks later. Pure integer week arithmetic (epoch_us div
    * week) — engine-exact. Shape: first-event agg and the activity
    * distinct both key on user_id (one co-partitioned exchange), then the
    * final count groups ≤ |weeks|² cells — the matrix never scales with
    * event volume. */
  def retention(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"),
      expr("unix_micros(cast(ts as timestamp)) div 604800000000").as("week"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    ev.join(cohorts, Seq("user_id"))
      .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}
