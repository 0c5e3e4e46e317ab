package graft.operators

import graft.{Dets, QueryFamily, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Dets._

/** SURVEY.md §2.E extension — time-series analytics over the event stream.
  *
  * The reference's HiveQL jobs serve product analytics; the classic
  * time-series shapes a sync like that feeds downstream are cohort
  * retention, gap-filled activity series, carried-forward state, OHLC
  * resampling, interval rolling windows, seasonal profiles, WoW growth,
  * and robust outlier flagging. Each is declared Spark-first:
  *
  *  - `q_ts_cohort`: cohort week is a window MIN over the user partition
  *    — ONE events shuffle, no join (the agg+join variant cannot reuse
  *    its exchange: the partial-agg node differs; PlanSpec pins this);
  *    countDistinct is the built-in 2-phase expand — no row explosion.
  *  - `q_ts_gapfill`: densification via `sequence()+explode` — the
  *    calendar is GENERATED per user (O(span) rows from an O(1) span row),
  *    never materialized as a driver-side range or a cross join against a
  *    calendar table. At 100 TB the left join is user_id-copartitioned
  *    with the daily rollup, so the whole densify is one shuffle.
  *  - `q_ts_ffill`: forward-fill as `last(..., ignoreNulls)` over a
  *    running frame — one pass per user partition, no self-join, no
  *    recursive CTE. This is the carried-state shape (latest purchase
  *    price, last-known config) at any scale.
  *  - `q_ts_outliers`: robust (median/MAD) z-scores — resistant to the
  *    very outliers being hunted, unlike mean/stddev. Medians are exact
  *    interpolated percentiles rounded to 4 dp in BOTH engines before any
  *    comparison, so the flag boundary is a shared decimal grid, not an
  *    ulp race (same discipline as q_agg_percentile).
  *
  * Determinism: week/day bucketing uses date_trunc (Monday-start weeks in
  * both Spark and DuckDB); week offsets are exact integer day-diffs over
  * truncated dates divided by 7 (always a whole number). All outputs end
  * in a unique total ORDER BY.
  */
object TimeSeries extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Weekly cohort retention: users grouped by first-active week; for
    // each (cohort, week-offset) cell, how many came back. The cohort
    // week is a window MIN over the user partition — ONE shuffle of
    // events total for cohort assignment (an agg+join formulation pays a
    // second full shuffle of events at scale, since the partial-agg node
    // under the join's build side defeats exchange reuse; at fixture
    // scale that variant broadcasts, but the window form needs neither).
    "q_ts_cohort" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("timestamp_ntz").as("wk"))
      ev.withColumn("cohort_wk",
          min(col("wk")).over(Window.partitionBy("user_id")))
        .withColumn("week_offset", expr("datediff(wk, cohort_wk) div 7"))
        .groupBy("cohort_wk", "week_offset")
        .agg(countDistinct(col("user_id")).as("users"))
        .orderBy("cohort_wk", "week_offset")
    }),

    // Zero-filled daily activity per user: every calendar day between a
    // user's first and last event, with 0 rows where nothing happened.
    "q_ts_gapfill" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"),
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      val daily = ev.groupBy("user_id", "day").agg(count(lit(1)).as("n_events"))
      val days = ev.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      days.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("user_id", "day")
    }),

    // Carried-forward state: each event annotated with the most recent
    // purchase amount seen so far for that user (null until the first).
    "q_ts_ffill" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          last(when(col("event_type") === "purchase", col("value")),
            ignoreNulls = true).over(w).as("last_purchase"))
        .orderBy("event_id")
    }),

    // OHLC resample: per (user, day) the first/last/extreme values — the
    // downsampling shape every metrics store serves. first/last are
    // min_by/max_by on the event time (exact, single-pass; FixtureSchemaSpec
    // asserts (user_id, ts) is unique, so the pick is total) — NOT
    // first()/last() over a window, whose result depends on row order.
    "q_ts_resample" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("user_id"),
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
        .agg(
          expr("min_by(value, ts)").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          expr("max_by(value, ts)").as("close"),
          count(lit(1)).as("n"))
        .orderBy("user_id", "day")),

    // Rolling 6-hour totals per user: a TIME-interval RANGE frame — the
    // frame is defined by the ORDER-BY value, not a row count, so sparse
    // and dense periods are compared on equal footing. One shuffle on
    // user_id; the frame scan is a two-pointer sweep per partition.
    // RANGE includes ts-peers by definition in both engines, so the
    // result is order-independent without a tiebreaker.
    "q_ts_rolling" -> ((s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("graft_ts_rolling_ev")
      s.sql("""SELECT event_id, user_id, ts,
        count(*) OVER (PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 6 HOURS PRECEDING AND CURRENT ROW) AS n6h,
        CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 6 HOURS PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum6h
        FROM graft_ts_rolling_ev ORDER BY event_id""")
    }),

    // Exponentially weighted moving average, TRUNCATED to depth 16 so it
    // is exact: alpha = 1/2, so the weights 2^15..2^0 over the last 16
    // points are integers, the measure is exact micro-units (dec6 *
    // 1e6), and the weighted sum stays far below 2^53 — the whole EWMA
    // is integer arithmetic with ONE IEEE divide at the end,
    // bit-identical cross-engine (the untruncated recursive form
    // accumulates float error whose value depends on evaluation order —
    // un-oracle-able; truncation at 16 halvings is below 2e-5 relative
    // anyway). The 16 lags ride ONE (user_id) window partition —
    // codegen'd projections over a single shuffle, no self-join per
    // offset. Series head normalizes by the weights actually present.
    "q_ts_ewma" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val withMicro = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (dec6(col("value")) * 1000000).cast("bigint").as("micro"))
      val terms = (0 to 15).map { j =>
        val lg = lag(col("micro"), j).over(w)
        val wt = 1L << (15 - j)
        (coalesce(lg * lit(wt), lit(0L)),
          when(lg.isNotNull, lit(wt)).otherwise(lit(0L)))
      }
      withMicro
        .withColumn("num", terms.map(_._1).reduce(_ + _))
        .withColumn("den", terms.map(_._2).reduce(_ + _))
        .select(col("user_id"), col("ts"), col("event_id"),
          dbl(col("micro")).divide(lit(1000000.0)).as("value6"),
          (dbl(col("num")) / dbl(col("den") * lit(1000000L))).as("ewma"))
        .orderBy("user_id", "ts")
    }),

    // Seasonal (hour-of-day) profile per event type, with the peak hour
    // flagged — the load-shape view capacity planning reads. Peak choice
    // is total under ties (smallest peak hour), so the flag is
    // deterministic.
    "q_ts_seasonal" -> ((s, dir) => {
      val prof = Tables(s, dir, "events")
        .groupBy(col("event_type"), hour(col("ts")).cast("bigint").as("hr"))
        .agg(count(lit(1)).as("n"),
          (dbl(sum(dec6(col("value")))) / count(lit(1))).as("avg_value"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("n").desc, col("hr"))
      prof
        .withColumn("is_peak", row_number().over(w) === 1)
        .select("event_type", "hr", "n", "avg_value", "is_peak")
        .orderBy("event_type", "hr")
    }),

    // Week-over-week growth per event type: lag ratio over weekly exact
    // sums (null on each type's first week).
    "q_ts_wow" -> ((s, dir) => {
      val wk = Tables(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("week", col("ts")).cast("timestamp_ntz").as("wk"))
        .agg(dbl(sum(dec6(col("value")))).as("total"))
      val w = Window.partitionBy("event_type").orderBy("wk")
      wk.withColumn("prev", lag(col("total"), 1).over(w))
        .select(col("event_type"), col("wk"), col("total"),
          ((col("total") - col("prev")) / col("prev")).as("wow_growth"))
        .orderBy("event_type", "wk")
    }),

    // Theil–Sen robust trend per event type — the outlier-immune
    // complement of q_agg_linreg's OLS slope (one spiked hour drags an
    // OLS fit; the MEDIAN of pairwise slopes shrugs it off — the
    // published robust-regression classic): hourly value sums (exact
    // micros), every ordered hour pair's slope as the EXACT integer
    // Δv·10⁶ DIV Δt (both engines truncate toward zero — NO float
    // anywhere in this key), and the lower median selected by rank
    // (ties share a value, so the pick is deterministic without a
    // tiebreak column). Scale: the pair join is per-GROUP n_hours² —
    // the honest Theil–Sen cost, bounded by the series length (720
    // hours here), never corpus²; at 100 TB a long series moves to
    // the sampled or repeated-median variant, same serving shape.
    "q_ts_theilsen" -> ((s, dir) =>
      theilSenExact(Tables(s, dir, "events"), TheilSenExactMaxHours)),

    // Wald–Wolfowitz RUNS test per event type — the randomness check
    // beside q_ts_mannkendall's trend test (a series can be trendless
    // yet non-random — oscillation or clumping both shrink/inflate the
    // run count): each hour signs against the series' lower-median
    // (the q_ts_mad pick; exact ties with the median drop, the
    // standard rule), R = number of sign runs via the lag-transition
    // count (exact integer, one ordered window per type), n₁/n₂ the
    // side populations. E[R] = 2n₁n₂/n + 1 and Var share the one IEEE
    // chain that serves z. All products stay in double (each count
    // < 2^53 exactly); 2n₁n₂(2n₁n₂−n) as BIGINT would wrap past
    // n ≈ 3e4 — the chisq lesson, so only the exact R/n₁/n₂ are
    // integers and the moments are double-side.
    "q_ts_runs" -> ((s, dir) => {
      val hourly = hourlySeries(Tables(s, dir, "events"))
      val med = lowerMedian(hourly, "v")
        .select(col("event_type"), col("v").as("med"))
      val wT = Window.partitionBy("event_type").orderBy("t")
      hourly.join(broadcast(med), "event_type")
        .where(col("v") =!= col("med"))
        .withColumn("sgn", expr("CASE WHEN v > med THEN 1 ELSE 0 END"))
        .withColumn("prev", lag("sgn", 1).over(wT))
        .groupBy("event_type")
        .agg(sum("sgn").as("n1"),
          sum(expr("1 - sgn")).as("n2"),
          sum(expr("CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END"))
            .as("runs"))
        // zero-variance populations (n1*n2 = 0, or n1 = n2 = 1) make z
        // 0/0 — Spark silently nulls the NaN->BIGINT cast, DuckDB errors
        // on it: guard identically in both engines (r19 ADVICE item 1)
        .selectExpr("event_type", "n1", "n2", "runs",
          "CASE WHEN n1 * n2 = 0 OR 2 * n1 * n2 = n1 + n2 THEN " +
            "CAST(NULL AS BIGINT) ELSE " +
            "CAST(floor((CAST(runs AS DOUBLE) - (2.0D * CAST(n1 AS DOUBLE) * " +
            "CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) + 1.0D)) / " +
            "sqrt(2.0D * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
            "(2.0D * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - " +
            "CAST(n1 + n2 AS DOUBLE)) / " +
            "(CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE) * " +
            "CAST(n1 + n2 - 1 AS DOUBLE))) * 1000000.0D) AS BIGINT) " +
            "END AS z_micros")
        .orderBy("event_type")
    }),

    // Mann–Kendall trend TEST per event type — the significance
    // companion of q_ts_theilsen's trend ESTIMATE (the published pair:
    // Sen's slope sizes the trend, Kendall's S decides it exists):
    // S = Σ_{i<j} sign(v_j − v_i) over time-ordered hour pairs — an
    // EXACT integer; the tie-corrected variance 18·Var(S) =
    // n(n−1)(2n+5) − Σt(t−1)(2t+5) is an exact integer too (int64 to
    // n ≈ 1.6e6 hours, stated); the served z applies the standard
    // continuity correction (S∓1) in ONE shared IEEE chain. Same
    // per-group n² pair shape as theilsen (bounded by series length,
    // never corpus²; the sampled key shows the thinning move).
    "q_ts_mannkendall" -> ((s, dir) => {
      val hourly = hourlySeries(Tables(s, dir, "events"))
      val sStat = hourPairs(hourly)
        .groupBy("event_type")
        .agg(sum(expr("CAST(sign(vb - va) AS BIGINT)")).as("s_stat"))
      val ties = hourly.groupBy("event_type", "v")
        .agg(count(lit(1)).as("tcnt"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_distinct"), sum("tcnt").as("n_hours"),
          sum(expr("tcnt * (tcnt - 1) * (2 * tcnt + 5)")).as("tie18"))
      sStat.join(ties, "event_type")
        .selectExpr("event_type", "n_hours", "s_stat",
          "n_hours * (n_hours - 1) * (2 * n_hours + 5) - tie18 AS var18")
        .selectExpr("event_type", "n_hours", "s_stat", "var18",
          "CAST(floor(CASE WHEN s_stat > 0 THEN " +
            "(CAST(s_stat AS DOUBLE) - 1.0D) / sqrt(CAST(var18 AS DOUBLE) / 18.0D) " +
            "WHEN s_stat < 0 THEN " +
            "(CAST(s_stat AS DOUBLE) + 1.0D) / sqrt(CAST(var18 AS DOUBLE) / 18.0D) " +
            "ELSE 0.0D END * 1000000.0D) AS BIGINT) AS z_micros")
        .orderBy("event_type")
    }),

    // Median absolute deviation of the hourly series per event type —
    // the robust SPREAD beside q_ts_theilsen's robust trend (stddev
    // triples on one spiked hour; MAD shrugs it off — the classic
    // robust-scale estimator): the lower median of v by deterministic
    // rank pick, then the lower median of |v − med|, NO float anywhere
    // (the q_agg_ks "no IEEE boundary at all" class). Two rank windows
    // partitioned per event_type (series-bounded, never corpus-wide);
    // the per-type medians ride a broadcast back onto the hourly grid.
    "q_ts_mad" -> ((s, dir) => {
      val hourly = hourlySeries(Tables(s, dir, "events"))
      val med = lowerMedian(hourly, "v")
        .select(col("event_type"), col("v").as("med"), col("m").as("n_hours"))
      val dev = hourly.join(broadcast(med), "event_type")
        .withColumn("d", abs(col("v") - col("med")))
      lowerMedian(dev, "d", size = "m2")
        .select(col("event_type"), col("n_hours"),
          col("med").as("median_micros"), col("d").as("mad_micros"))
        .orderBy("event_type")
    }),

    // SAMPLED Theil–Sen — the long-series variant the exact key's
    // comment prescribes, now served beside it. The thinning is
    // ENDPOINT-hashed, not pair-hashed: each hour takes ONE md5 bucket
    // b(t) = md5(event_type:t) mod 4 (O(n) hashes — a per-pair hash
    // was measured costing as much as the sort it saves), and a pair
    // survives iff (b(ta) + b(tb)) mod 4 = 0 — for any fixed left
    // bucket exactly one right bucket qualifies, so the kept fraction
    // is 1/4 by construction and the pair predicate is two integer
    // adds. What sampling buys at scale is the shuffle+sort of the
    // pair-slope stream (the rank median's real cost, 4× lighter);
    // the honest cost story is SERVED: n_pairs_exact = n·(n−1)/2
    // (arithmetic — the full quadratic never materializes here) vs
    // n_pairs_sampled. Enumeration stays map-side n² within each
    // group — the form's floor; a series too long even for that moves
    // to harsher endpoint thinning, same serving shape.
    // TimeSeriesSpec pins the sampled median's rank position in the
    // exact slope distribution on the fixture.
    "q_ts_theilsen_sampled" -> ((s, dir) => {
      val hourly = hourlySeries(Tables(s, dir, "events"))
        .withColumn("bk", expr("CAST(conv(substr(md5(concat(event_type, " +
          "':', CAST(t AS STRING))), 1, 15), 16, 10) AS BIGINT) % 4"))
      val meta = hourly.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"))
      val slopes = hourPairs(hourly, "bk")
        .where(expr("(bka + bkb) % 4 = 0"))
        .selectExpr("event_type", pairSlope)
      lowerMedian(slopes, "slope")
        .join(broadcast(meta), "event_type")
        .selectExpr("event_type", "n_hours",
          "n_hours * (n_hours - 1) DIV 2 AS n_pairs_exact",
          "m AS n_pairs_sampled",
          "slope AS theil_sampled_micros")
        .orderBy("event_type")
    }),

    // CUSUM changepoint per event type: the day where the cumulative
    // deviation from the series' mean daily volume peaks — the classic
    // level-shift locator. Exactness discipline for an argmax over
    // floats: daily totals and their prefix sums stay DECIMAL (exact,
    // order-independent); cusum_k = S_k - k·S_n/n is evaluated in
    // doubles with identical operation order in both engines, so the
    // |cusum| ranking — and therefore the argmax day — is identical.
    "q_ts_changepoint" -> ((s, dir) => {
      val daily = dailySeries(s, dir, sum(dec6(col("value"))).as("d_total"))
      val wOrd = Window.partitionBy("event_type").orderBy("day")
      val wAll = Window.partitionBy("event_type")
      val cu = daily
        .withColumn("k", row_number().over(wOrd))
        .withColumn("sk", sum(col("d_total")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("sn", sum(col("d_total")).over(wAll))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("cusum",
          dbl(col("sk")) - col("k") * dbl(col("sn")) / col("n"))
      val wPick = Window.partitionBy("event_type")
        .orderBy(abs(col("cusum")).desc, col("day"))
      cu.withColumn("rk", row_number().over(wPick))
        .where(col("rk") === 1)
        .select(col("event_type"), col("day").as("change_day"),
          round(col("cusum"), 4).as("cusum"), big(col("n")).as("n_days"))
        .orderBy("event_type")
    }),

    // Lag-1 autocorrelation of daily volume per type — "is today like
    // yesterday" (persistence vs noise), the first diagnostic before
    // any forecasting. corr's co-moment sums are engine-internal
    // doubles, so the output rounds to the shared 4-dp grid (the
    // q_agg_stats discipline).
    "q_ts_autocorr" -> ((s, dir) => {
      val daily = dailySeries(s, dir, dbl(sum(dec6(col("value")))).as("total"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.withColumn("prev", lag(col("total"), 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          round(corr(col("total"), col("prev")), 4).as("lag1_autocorr"))
        .orderBy("event_type")
    }),

    // Robust outliers: |value - median| > 3 * 1.4826 * MAD per event_type
    // (1.4826 scales MAD to sigma-equivalent under normality). Median and
    // MAD are rounded to the shared 4-dp grid before the comparison.
    "q_ts_outliers" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val med = ev.groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
      val mad = ev.join(med, "event_type")
        .groupBy("event_type", "med")
        .agg(round(expr("percentile(abs(value - med), 0.5)"), 4).as("mad"))
      ev.join(mad, "event_type")
        .where(abs(col("value") - col("med")) > lit(3 * 1.4826) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"),
          round((col("value") - col("med")) / (lit(1.4826) * col("mad")), 4)
            .as("robust_z"))
        .orderBy("event_id")
    }),
  )

  /** Whole hours since 2000-01-01 of an event's `ts`, in Spark SQL. */
  private val hourOf = "(unix_micros(CAST(ts AS TIMESTAMP)) - " +
    "unix_micros(TIMESTAMP '2000-01-01 00:00:00')) DIV 3600000000"

  /** The exact hourly series behind the robust-statistics keys: one row
    * per (event_type, t) with `t` the whole hours since 2000-01-01 and
    * `v` the bigint sum of the hour's values in micro-units. An hour
    * with no events has no row. */
  private[graft] def hourlySeries(events: DataFrame): DataFrame =
    events
      .selectExpr("event_type", s"$hourOf AS t",
        "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v")
      .groupBy("event_type", "t").agg(sum("v").as("v"))

  /** Each event type's lower-median row in `by` order: `rn` numbers the
    * rows, the column named `size` counts the group, and the row with
    * rn = (size + 1) DIV 2 is kept. Tied values share a value, so the
    * pick needs no tiebreak column. */
  private[graft] def lowerMedian(df: DataFrame, by: String, size: String = "m"): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy("event_type").orderBy(by)))
      .withColumn(size, count(lit(1)).over(Window.partitionBy("event_type")))
      .where(col("rn") === expr(s"($size + 1) DIV 2"))

  /** Every ordered hour pair (ta < tb) within an event type: `t`, `v`
    * and each `carry` column of `hourly`, suffixed `a` and `b` by side.
    * The per-group n² self-join of the Theil–Sen and Mann–Kendall keys. */
  private def hourPairs(hourly: DataFrame, carry: String*): DataFrame = {
    def side(x: String) = hourly.selectExpr(
      Seq("event_type", s"t AS t$x", s"v AS v$x") ++ carry.map(c => s"$c AS $c$x"): _*)
    side("a").join(side("b"), Seq("event_type")).where(col("tb") > col("ta"))
  }

  /** A pair's exact integer slope in micro-units per hour (DIV truncates). */
  private val pairSlope = "(vb - va) * 1000000 DIV (tb - ta) AS slope"

  /** Hour ceiling of the exact Theil–Sen leg (≈ 2·10⁸ pairs per group). */
  private val TheilSenExactMaxHours = 20000L

  /** q_ts_theilsen over `events`. Scale guard (r21): the exact leg is
    * O(n²) per group BY DEFINITION, so a series longer than `maxHours`
    * fails LOUDLY (the sampled variant is the scale path) instead of
    * running a 100 TB misuse forever. The check rides the meta subtree —
    * the broadcast build of the final join, which executes before the
    * pair join's probe side streams — so it costs no extra job; CASE
    * keeps it from being constant-folded away. */
  private[graft] def theilSenExact(events: DataFrame, maxHours: Long): DataFrame = {
    val hourly = hourlySeries(events)
    val meta = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"))
      .withColumn("n_hours", expr(
        s"CASE WHEN n_hours <= ${maxHours}L THEN n_hours ELSE " +
          "CAST(raise_error(concat('q_ts_theilsen: series ', event_type, " +
          s"' spans ', CAST(n_hours AS STRING), ' hours > $maxHours — " +
          "the exact O(n\\u00b2) leg refuses; use q_ts_theilsen_sampled')) AS BIGINT) END"))
    lowerMedian(hourPairs(hourly).selectExpr("event_type", pairSlope), "slope")
      .join(broadcast(meta), "event_type")
      .select(col("event_type"), col("n_hours"), col("m").as("n_pairs"),
        col("slope").as("theil_slope_micros"))
      .orderBy("event_type")
  }

  /** One aggregate `total` per (event_type, calendar day). */
  private def dailySeries(s: SparkSession, dir: String, total: Column): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      .agg(total)

  /** DuckDB mirror of the truncated EWMA: the identical 16-term lag
    * chain over one named window — exact integer weights, one divide.
    */
  private val ewmaOracle: String = {
    val num = (0 to 15).map { j =>
      s"coalesce(lag(micro, $j) OVER w * ${1L << (15 - j)}, 0)"
    }.mkString(" + ")
    val den = (0 to 15).map { j =>
      s"(CASE WHEN lag(micro, $j) OVER w IS NOT NULL THEN ${1L << (15 - j)} ELSE 0 END)"
    }.mkString(" + ")
    "WITH e AS (SELECT user_id, ts, event_id, " +
    "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micro FROM events) " +
    "SELECT user_id, ts, event_id, " +
    "CAST(micro AS DOUBLE) / 1000000.0 AS value6, " +
    s"CAST($num AS DOUBLE) / CAST(CAST($den AS BIGINT) * 1000000 AS DOUBLE) AS ewma " +
    "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
    "ORDER BY user_id, ts"
  }

  /** DuckDB's hourly grid: the rows of hourlySeries, computed apart. */
  private val hourlyOracle = "SELECT event_type, " +
    "(epoch_us(ts) - epoch_us(TIMESTAMP '2000-01-01')) // 3600000000 AS t, " +
    "CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) " +
    "AS BIGINT) AS v FROM events GROUP BY event_type, t"

  /** DuckDB's lower-median ranking: `cols` of `from` plus the row number
    * `rn` in `by` order and the group size named `size`, per event type. */
  private def rankOracle(cols: String, by: String, size: String, from: String): String =
    s"SELECT $cols, " +
      s"CAST(row_number() OVER (PARTITION BY event_type ORDER BY $by) AS BIGINT) AS rn, " +
      s"CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS $size FROM $from"

  /** DuckDB Theil–Sen over the hourly CTE body `h`: hour counts `m`,
    * exact pair slopes (`pairFilter` thins the pairs), the lower-median
    * rank pick, and the served `cols` beside event_type and n_hours. */
  private def theilSenOracle(h: String, pairFilter: String, cols: String): String =
    s"WITH h AS ($h), " +
      "m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours " +
      "FROM h GROUP BY event_type), " +
      "sl AS (SELECT a.event_type, " +
      "(b.v - a.v) * 1000000 // (b.t - a.t) AS slope " +
      s"FROM h a JOIN h b ON a.event_type = b.event_type AND b.t > a.t$pairFilter), " +
      s"rk AS (${rankOracle("event_type, slope", "slope", "mm", "sl")}) " +
      s"SELECT rk.event_type, m.n_hours, $cols " +
      "FROM rk JOIN m ON rk.event_type = m.event_type " +
      "WHERE rn = (mm + 1) // 2 ORDER BY rk.event_type"

  def oracles: Map[String, String] = Map(
    "q_ts_ewma" -> ewmaOracle,

    // identical hourly sums, identical exact-integer pair slopes
    // (// and DIV truncate toward zero identically), identical
    // lower-median rank pick
    "q_ts_theilsen" -> theilSenOracle(hourlyOracle, "",
      "rk.mm AS n_pairs, rk.slope AS theil_slope_micros"),

    // identical hourly grid, identical lower-median sign rule and
    // lag-transition run count, identical one-chain z
    "q_ts_runs" -> (s"WITH h AS ($hourlyOracle), " +
      s"rk AS (${rankOracle("event_type, v", "v", "m", "h")}), " +
      "md AS (SELECT event_type, v AS med FROM rk WHERE rn = (m + 1) // 2), " +
      "sg AS (SELECT h.event_type, h.t, " +
      "CASE WHEN h.v > md.med THEN 1 ELSE 0 END AS sgn " +
      "FROM h JOIN md ON h.event_type = md.event_type WHERE h.v <> md.med), " +
      "tr AS (SELECT event_type, sgn, lag(sgn, 1) OVER " +
      "(PARTITION BY event_type ORDER BY t) AS prev FROM sg), " +
      "st AS (SELECT event_type, CAST(sum(sgn) AS BIGINT) AS n1, " +
      "CAST(sum(1 - sgn) AS BIGINT) AS n2, " +
      "CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS runs FROM tr GROUP BY event_type) " +
      "SELECT event_type, n1, n2, runs, " +
      "CASE WHEN n1 * n2 = 0 OR 2 * n1 * n2 = n1 + n2 THEN NULL ELSE " +
      "CAST(floor((CAST(runs AS DOUBLE) - (2.0 * CAST(n1 AS DOUBLE) * " +
      "CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) + 1.0)) / " +
      "sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
      "(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - " +
      "CAST(n1 + n2 AS DOUBLE)) / " +
      "(CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE) * " +
      "CAST(n1 + n2 - 1 AS DOUBLE))) * 1000000.0) AS BIGINT) END AS z_micros " +
      "FROM st ORDER BY event_type"),

    // identical hourly grid, identical integer S and tie-corrected
    // 18·Var, identical continuity-corrected z chain
    "q_ts_mannkendall" -> (s"WITH h AS ($hourlyOracle), " +
      "ss AS (SELECT a.event_type, " +
      "CAST(sum(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT) AS s_stat " +
      "FROM h a JOIN h b ON a.event_type = b.event_type AND b.t > a.t " +
      "GROUP BY a.event_type), " +
      "ti AS (SELECT event_type, CAST(sum(tcnt) AS BIGINT) AS n_hours, " +
      "CAST(sum(tcnt * (tcnt - 1) * (2 * tcnt + 5)) AS BIGINT) AS tie18 FROM " +
      "(SELECT event_type, v, CAST(count(*) AS BIGINT) AS tcnt FROM h " +
      "GROUP BY event_type, v) GROUP BY event_type), " +
      "vr AS (SELECT ss.event_type, n_hours, s_stat, " +
      "n_hours * (n_hours - 1) * (2 * n_hours + 5) - tie18 AS var18 " +
      "FROM ss JOIN ti ON ss.event_type = ti.event_type) " +
      "SELECT event_type, n_hours, s_stat, var18, " +
      "CAST(floor(CASE WHEN s_stat > 0 THEN " +
      "(CAST(s_stat AS DOUBLE) - 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0) " +
      "WHEN s_stat < 0 THEN " +
      "(CAST(s_stat AS DOUBLE) + 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0) " +
      "ELSE 0.0 END * 1000000.0) AS BIGINT) AS z_micros " +
      "FROM vr ORDER BY event_type"),

    // identical hourly grid, identical lower-median rank picks, all
    // integers — no float boundary at all
    "q_ts_mad" -> (s"WITH h AS ($hourlyOracle), " +
      s"rk AS (${rankOracle("event_type, v", "v", "m", "h")}), " +
      "md AS (SELECT event_type, v AS med, m AS n_hours FROM rk " +
      "WHERE rn = (m + 1) // 2), " +
      "dv AS (SELECT h.event_type, md.n_hours, md.med, abs(h.v - md.med) AS d " +
      "FROM h JOIN md ON h.event_type = md.event_type), " +
      s"rk2 AS (${rankOracle("event_type, n_hours, med, d", "d", "m", "dv")}) " +
      "SELECT event_type, n_hours, med AS median_micros, d AS mad_micros " +
      "FROM rk2 WHERE rn = (m + 1) // 2 ORDER BY event_type"),

    // identical hourly grid, identical per-ENDPOINT md5 bucket +
    // (bka+bkb) mod 4 pair rule, identical integer slope + rank pick
    "q_ts_theilsen_sampled" -> theilSenOracle(
      "SELECT event_type, t, v, " +
        "CAST(concat('0x', substr(md5(concat(event_type, ':', " +
        s"CAST(t AS VARCHAR))), 1, 15)) AS BIGINT) % 4 AS bk FROM ($hourlyOracle)",
      " WHERE (a.bk + b.bk) % 4 = 0",
      "m.n_hours * (m.n_hours - 1) // 2 AS n_pairs_exact, " +
        "rk.mm AS n_pairs_sampled, rk.slope AS theil_sampled_micros"),

    "q_ts_cohort" -> ("""
      WITH ev AS (SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events),
      cohorts AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
      SELECT cohort_wk,
             CAST(date_diff('day', cohort_wk, wk) // 7 AS BIGINT) AS week_offset,
             count(DISTINCT ev.user_id) AS users
      FROM ev JOIN cohorts USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2"""),

    "q_ts_gapfill" -> ("""
      WITH ev AS (SELECT user_id, date_trunc('day', ts) AS day FROM events),
      daily AS (SELECT user_id, day, count(*) AS n_events FROM ev GROUP BY 1, 2),
      days AS (SELECT user_id,
                      unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
               FROM ev GROUP BY user_id)
      SELECT days.user_id, days.day, coalesce(daily.n_events, 0) AS n_events
      FROM days LEFT JOIN daily ON days.user_id = daily.user_id AND days.day = daily.day
      ORDER BY 1, 2"""),

    "q_ts_ffill" -> ("""
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
      FROM events ORDER BY event_id"""),

    "q_ts_resample" -> ("""
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             min_by(value, ts) AS open, max(value) AS high,
             min(value) AS low, max_by(value, ts) AS close,
             count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    "q_ts_rolling" -> ("""
      SELECT event_id, user_id, ts,
             count(*) OVER (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 6 HOURS PRECEDING AND CURRENT ROW) AS n6h,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 6 HOURS PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum6h
      FROM events ORDER BY event_id"""),

    "q_ts_seasonal" -> ("""
      WITH prof AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_value
        FROM events GROUP BY 1, 2)
      SELECT event_type, hr, n, avg_value,
             (row_number() OVER (PARTITION BY event_type ORDER BY n DESC, hr) = 1)
               AS is_peak
      FROM prof ORDER BY event_type, hr"""),

    "q_ts_wow" -> ("""
      WITH wk AS (
        SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2)
      SELECT event_type, wk, total,
             (total - lag(total, 1) OVER (PARTITION BY event_type ORDER BY wk))
               / lag(total, 1) OVER (PARTITION BY event_type ORDER BY wk) AS wow_growth
      FROM wk ORDER BY event_type, wk"""),

    "q_ts_changepoint" -> ("""
      WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS d_total
        FROM events GROUP BY 1, 2),
      cu AS (
        SELECT event_type, day,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
               SUM(d_total) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk,
               SUM(d_total) OVER (PARTITION BY event_type) AS sn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily),
      scored AS (
        SELECT event_type, day,
               CAST(sk AS DOUBLE) - k * CAST(sn AS DOUBLE) / n AS cusum, n
        FROM cu),
      pick AS (
        SELECT event_type, day, cusum, n,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY abs(cusum) DESC, day) AS rk
        FROM scored)
      SELECT event_type, day AS change_day, round(cusum, 4) AS cusum,
             CAST(n AS BIGINT) AS n_days
      FROM pick WHERE rk = 1 ORDER BY event_type"""),

    "q_ts_autocorr" -> ("""
      WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2),
      lagged AS (
        SELECT event_type, total,
               lag(total, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev
        FROM daily)
      SELECT event_type, count(*) AS n_pairs,
             round(corr(total, prev), 4) AS lag1_autocorr
      FROM lagged WHERE prev IS NOT NULL
      GROUP BY event_type ORDER BY event_type"""),

    "q_ts_outliers" -> ("""
      WITH med AS (SELECT event_type,
                          round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4) AS med
                   FROM events GROUP BY 1),
      mad AS (SELECT e.event_type, med,
                     round(percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(e.value - med)), 4) AS mad
              FROM events e JOIN med USING (event_type) GROUP BY 1, 2)
      SELECT event_id, e.event_type, value, med, mad,
             round((value - med) / (1.4826 * mad), 4) AS robust_z
      FROM events e JOIN mad ON e.event_type = mad.event_type
      WHERE abs(value - med) > 3 * 1.4826 * mad
      ORDER BY event_id"""),
  )
}
