package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators: calendar densification, rolling windows,
  * weekday features — the shapes behind the reference's ML feature
  * pipeline (`/root/reference/function-app/ml_forecast_anomaly.py:193-215`).
  *
  * The reference densifies per home in an O(n_homes) driver-side Python
  * loop (`ml_forecast_anomaly.py:199-208`); here the whole thing is one
  * distributed plan (SURVEY §3 EP3).
  */
object TimeSeries {

  /** A5 — multi-key multi-agg daily rollup
    * (`ml_forecast_anomaly.py:193-196`):
    * `groupby([key, date]).agg(sum, nunique)`. `countDistinct` matches
    * pandas `nunique` (nulls ignored). For approximate mode at scale,
    * callers can swap in `approx_count_distinct`.
    */
  def dailyRollup(df: DataFrame, key: String, dateCol: Column,
                  value: String, category: String): DataFrame =
    df.groupBy(col(key), dateCol.as("Date"))
      .agg(
        sum(value).as("total_kwh"),
        countDistinct(col(category)).as("unique_appliances"))

  /** W2 — calendar densification (`ml_forecast_anomaly.py:199-208`):
    * per-key dense date spine [min, max], missing days zero-filled.
    * One pass over `daily`, no join back: each row explodes into its
    * own day plus the gap up to the key's next observed day (`lead`,
    * in its own column: Spark rejects a window inside `explode`), and
    * keeps its values on its own day only. The rows are those of the
    * left join from a `[min, max]` spine: a NULL-date row is dropped, a
    * NULL key's days carry no values (NULL never joins), and `na.fill`
    * zeroes NaN as well as the gaps.
    */
  def densify(daily: DataFrame, key: String, fillCols: Seq[String]): DataFrame = {
    val (k, d, next, day) = (col(key), col("Date"), col("__next"), col("__day"))
    val end = coalesce(date_sub(next, 1), d)
    val days = when(d.isNull, lit(null))
      .when(end >= d, sequence(d, end, expr("interval 1 day")))
      // a repeated (key, day): that row alone; for a NULL key, whose
      // days carry no values, the last of the repeats spans the day
      .when(k.isNotNull, array(d))
    val values = daily.columns.toSeq.filterNot(Set(key, "Date")).map(c =>
      when(k.isNotNull && day === d, col(c)).as(c))
    daily
      .withColumn("__next", lead(d, 1).over(Window.partitionBy(k).orderBy(d)))
      .withColumn("__day", explode(days))
      .select(k +: day.as("Date") +: values: _*)
      .na.fill(0, fillCols)
  }

  /** W1 — trailing 7-row mean per key (`ml_forecast_anomaly.py:211`).
    * pandas `rolling(7, min_periods=1)` == Spark's shrinking frame
    * `rowsBetween(-6, 0)` at partition start (SURVEY §7.4 #3).
    */
  def rollingMean7(df: DataFrame, key: String, order: String, value: String): DataFrame =
    df.withColumn(
      "rolling_7_mean",
      avg(col(value)).over(
        Window.partitionBy(col(key)).orderBy(col(order)).rowsBetween(-6, 0)))

  /** W3 — day-of-week, Monday=0 (`ml_forecast_anomaly.py:212`). Spark's
    * `weekday` matches pandas `dt.dayofweek`; `dayofweek` (Sun=1) does
    * NOT (SURVEY §7.4 #3).
    */
  def withDow(df: DataFrame, dateCol: String): DataFrame =
    df.withColumn("dow", weekday(col(dateCol)))

  /** Per-key linear trend (one tiny model per entity, millions at
    * once): closed-form OLS over (x = days since the key's first
    * observation, y = value) via the `covar_pop`/`var_pop`/`avg`
    * sufficient statistics — ONE key-partitioned aggregation fits
    * every key's model simultaneously; no per-key iteration, no
    * driver involvement. The 100 TB shape of "fit a model per home":
    * the reference fits one Prophet per REQUEST
    * (`ml_forecast_anomaly.py`); an engine fits per-entity trends for
    * the whole fleet in one pass.
    *
    * Output per key: `slope` (value/day), `intercept` (fitted value at
    * the key's first day), `n_obs`. Keys with a single observation (or
    * zero x-variance) get slope 0, intercept = mean.
    */
  def perKeyTrend(df: DataFrame, key: String, dateCol: Column,
                  value: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    val xy = df
      .withColumn("__d", dateCol)
      .withColumn("__x", datediff(col("__d"), min(col("__d")).over(w)).cast("double"))
      .withColumn("__y", col(value).cast("double"))
    xy.groupBy(col(key))
      .agg(
        covar_pop(col("__x"), col("__y")).as("__cov"),
        var_pop(col("__x")).as("__var"),
        avg(col("__x")).as("__mx"),
        avg(col("__y")).as("__my"),
        count(lit(1)).as("n_obs"))
      .select(col(key),
        when(col("__var") > 0, col("__cov") / col("__var"))
          .otherwise(lit(0.0)).as("slope"),
        (col("__my") - when(col("__var") > 0, col("__cov") / col("__var"))
          .otherwise(lit(0.0)) * col("__mx")).as("intercept"),
        col("n_obs"))
  }

  /** Fleet-wide anomaly flags from the per-key trend models: each
    * observation's residual against ITS key's fitted line, flagged
    * when |residual| exceeds `zThreshold` × the key's residual
    * std-dev. The 100 TB shape of the reference's anomaly endpoint
    * (one global IsoForest per request): per-entity baselines for
    * every entity at once — [[perKeyTrend]]'s aggregation, a broadcast
    * of the per-key models back onto the observations, and one more
    * per-key variance aggregation. Fully closed-form, so an external
    * engine reproduces every flag.
    */
  def perKeyTrendAnomalies(df: DataFrame, key: String, dateCol: Column,
                           value: String, zThreshold: Double = 2.0): DataFrame = {
    // Every per-key statistic — the OLS sufficient stats, the fitted
    // model, the residual spread — is a WINDOW aggregate over the same
    // key partitioning, so the whole pipeline is ONE scan + one
    // exchange + a chain of Window operators sharing that exchange.
    // (A first formulation fit models with perKeyTrend and joined them
    // back: three scans of the fact table in the plan.)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    df
      .withColumn("__d", dateCol)
      .withColumn("__x", datediff(col("__d"), min(col("__d")).over(w)).cast("double"))
      .withColumn("__y", col(value).cast("double"))
      .withColumn("__cov", covar_pop(col("__x"), col("__y")).over(w))
      .withColumn("__var", var_pop(col("__x")).over(w))
      .withColumn("slope",
        when(col("__var") > 0, col("__cov") / col("__var")).otherwise(lit(0.0)))
      .withColumn("intercept",
        avg(col("__y")).over(w) - col("slope") * avg(col("__x")).over(w))
      .withColumn("resid",
        col("__y") - (col("intercept") + col("slope") * col("__x")))
      .withColumn("resid_sd", stddev_pop(col("resid")).over(w))
      .withColumn("is_anomaly",
        col("resid_sd") > 0 && abs(col("resid")) > col("resid_sd") * zThreshold)
      .drop("__d", "__x", "__y", "__cov", "__var")
  }

  /** Approximate variant of [[dailyRollup]] for the 100 TB regime:
    * `approx_count_distinct` (HyperLogLog++, default 5% rsd) replaces
    * the exact-distinct expand+double-shuffle — one aggregation pass,
    * mergeable sketches, at the cost of bounded error on the
    * distinct-count column.
    */
  def dailyRollupApprox(df: DataFrame, key: String, dateCol: Column,
                        value: String, category: String,
                        rsd: Double = 0.05): DataFrame =
    df.groupBy(col(key), dateCol.as("Date"))
      .agg(
        sum(value).as("total_kwh"),
        approx_count_distinct(col(category), rsd).as("unique_appliances"))

  /** Gap-based sessionization: a new session starts when the gap to
    * the previous event (per key) exceeds `gapMinutes`. Classic
    * lag -> boolean -> running-sum window composition; one shuffle on
    * the key, both windows share the exchange.
    */
  def sessionize(df: DataFrame, key: String, tsCol: String,
                 gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol))
    // cast through TIMESTAMP first: a raw numeric cast throws on
    // TIMESTAMP_NTZ input (parquet MICROS isAdjustedToUTC=false), and
    // driver testdata has shipped both flavors across regenerations
    def secs(c: Column): Column = c.cast("timestamp").cast("long")
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          secs(col(tsCol)) - secs(col("__prev")) > gapMinutes * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("__new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__prev", "__new_session")
  }

  /** Windowed funnel analysis (the product-analytics sequence-match
    * operator): per user, the earliest completion of each ordered
    * `steps` event, each STRICTLY after the previous step's match, and
    * the stage reached within `windowSec` of step 1. Comparisons run
    * on floor-to-second epochs (the q115 precision convention —
    * sub-second parts must not decide what an integer oracle can't
    * see). Returns one row per user who performed step 1:
    * (user, stage, t1..tn) with −1 for unreached steps; a step beyond
    * the window caps the stage but its timestamp still reports.
    *
    * Scale shape: one filtered aggregate per step, each keyed on the
    * user — n small user-keyed shuffles, no window functions over the
    * raw event stream, nothing per-user unbounded. AQE-friendly, and
    * the per-step filters push into the scan.
    */
  def funnelStages(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, steps: Seq[String],
                   windowSec: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val e = events.select(col(userCol).as("u"),
      col(tsCol).cast("timestamp").cast("long").as("t"),
      col(typeCol).as("et"))
    var acc = e.filter(col("et") === steps.head)
      .groupBy("u").agg(min("t").as("t1"))
    steps.zipWithIndex.drop(1).foreach { case (st, i) =>
      val prev = s"t$i"
      val next = e.filter(col("et") === st)
        .join(acc.select(col("u"), col(prev)), "u")
        .filter(col("t") > col(prev))
        .groupBy("u").agg(min("t").as(s"t${i + 1}"))
      acc = acc.join(next, Seq("u"), "left")
    }
    // build the when-chain inner-out so the HIGHEST reached stage is
    // the outermost condition
    val stage = (2 to steps.size).foldLeft(lit(1)) { (els, i) =>
      when(col(s"t$i").isNotNull &&
        col(s"t$i") - col("t1") <= windowSec, lit(i)).otherwise(els)
    }
    val tCols = (1 to steps.size).map(i =>
      coalesce(col(s"t$i"), lit(-1L)).as(s"t$i"))
    acc.select(col("u").as(userCol) +: stage.cast("long").as("stage") +:
      tCols: _*)
  }

  /** Cohort retention (the second product-analytics operator next to
    * [[funnelStages]]): users cohorted by the ISO week of their FIRST
    * `cohortEvent`, then counted distinct per (cohort_week,
    * week_offset) for every week in which they produced ANY event at
    * or after the cohort week — the retention matrix. Week truncation
    * is ISO-Monday on both engines (`trunc(_, "week")` ≡ DuckDB
    * `date_trunc('week', _)`), offsets are exact day-diff DIV 7, and
    * pre-cohort activity is excluded (offset ≥ 0 only).
    *
    * Scale shape: one filtered aggregate for the cohort map, one
    * user-keyed join (AQE/broadcastable when cohorts are few), one
    * grouped distinct count — the countDistinct's inherent two
    * exchanges are the whole shuffle budget.
    */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
                      typeCol: String, cohortEvent: String): DataFrame = {
    val e = events.select(col(userCol).as("u"),
      to_date(col(tsCol)).as("d"), col(typeCol).as("et"))
    val cohorts = e.filter(col("et") === cohortEvent)
      .groupBy("u").agg(trunc(min(col("d")), "week").as("cohort_week"))
    e.join(cohorts, "u")
      .withColumn("ew", trunc(col("d"), "week"))
      .filter(col("ew") >= col("cohort_week"))
      .withColumn("week_offset",
        (datediff(col("ew"), col("cohort_week")) / 7).cast("long"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("u").as("n_users"))
  }

  /** M3 — the full anomaly feature pipeline
    * (`ml_forecast_anomaly.py:193-215`): rollup -> densify -> rolling
    * mean -> dow -> fillna(0). Input: readings-shaped rows; output one
    * row per (key, day) with features
    * [total_kwh, unique_appliances, rolling_7_mean, dow].
    */
  def anomalyFeatures(df: DataFrame, key: String, dateCol: Column,
                      value: String, category: String): DataFrame = {
    val daily = dailyRollup(df, key, dateCol, value, category)
    val dense = densify(daily, key, Seq("total_kwh", "unique_appliances"))
    withDow(rollingMean7(dense, key, "Date", "total_kwh"), "Date")
  }

  /** The EXACT-arithmetic variant of [[anomalyFeatures]] (the q28
    * gate): daily totals accumulate as micro BIGINTs (`valueMicro`,
    * e.g. floor(value·1e4) = micro-units of value/100), so every float
    * feature is derived from exact integers by one or two
    * correctly-rounded IEEE ops — bit-identical on any engine. That
    * bitness is what lets the REAL 200-tree IsolationForest walk be
    * oracle-checked branch-for-branch: a distributed float SUM (the
    * [[anomalyFeatures]] path) is order-dependent in its last ulp, and
    * one flipped ulp at a split threshold would silently change a tree
    * path. Same shapes otherwise: one daily aggregation, the dense
    * date spine, one per-key 7-row window (the BIGINT sum divides
    * once), weekday Mon=0. Keeps the exact `tm` (micro total) and `ua`
    * columns alongside the scorer's four float features.
    */
  def anomalyFeaturesExactMicro(df: DataFrame, key: String, dateCol: Column,
                                valueMicro: Column,
                                category: String): DataFrame = {
    val daily = df.groupBy(col(key), dateCol.as("Date"))
      .agg(sum(valueMicro).as("tm"),
        countDistinct(col(category)).as("ua"))
    val dense = densify(daily, key, Seq("tm", "ua"))
    val w = Window.partitionBy(col(key)).orderBy(col("Date"))
      .rowsBetween(-6, 0)
    dense
      .withColumn("total_kwh", col("tm").cast("double") / lit(1000000.0))
      .withColumn("unique_appliances", col("ua").cast("double"))
      .withColumn("rolling_7_mean",
        (sum("tm").over(w).cast("double") / lit(1000000.0))
          / count(lit(1)).over(w))
      .withColumn("dow", weekday(col("Date")).cast("double"))
  }

  /** Lag-k autocorrelation of per-key ordered series — the
    * seasonality detector (a weekly cycle shows as a lag-7 peak).
    * Definitionally float, but still exactly cross-engine replayable
    * because every sum is a LEFT FOLD over the key's series in
    * series order, computed row-locally after the series collapses
    * to one row (the [[ewma]] shape): same operands, same order,
    * same IEEE rounding on any engine — no distributed float
    * reduction anywhere. Per-key state is the series length
    * (days, not events).
    *
    *   acf(k) = Σᵢ (x_i − m)(x_{i+k} − m) / Σᵢ (x_i − m)²
    *
    * Output: (keyCol, lag, n_obs, acf) for lag = 1..maxLag, rounded
    * at the final projection.
    */
  def acf(daily: DataFrame, keyCol: String, ordCol: String, xCol: String,
          maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val series = daily
      .groupBy(keyCol)
      .agg(sort_array(collect_list(
        struct(col(ordCol).as("o"), col(xCol).cast("double").as("x"))))
        .as("os"))
      .withColumn("xs", expr("transform(os, e -> e.x)"))
      .withColumn("n", size(col("xs")).cast("long"))
      .withColumn("m",
        expr("aggregate(xs, 0D, (a, v) -> a + v) / CAST(n AS DOUBLE)"))
      .withColumn("den",
        expr("aggregate(xs, 0D, (a, v) -> a + (v - m) * (v - m))"))
    series
      .select(col(keyCol), col("n").as("n_obs"), col("m"), col("den"),
        col("xs"), explode(expr(s"sequence(1, $maxLag)")).as("lag"))
      .filter(col("n_obs") > col("lag") && col("den") =!= 0.0)
      .withColumn("num", expr(
        """aggregate(sequence(0, CAST(n_obs AS INT) - 1 - CAST(lag AS INT)),
          |  0D,
          |  (a, i) -> a + (element_at(xs, i + 1) - m)
          |              * (element_at(xs, i + 1 + CAST(lag AS INT)) - m))"""
          .stripMargin))
      .select(col(keyCol), col("lag").cast("long").as("lag"), col("n_obs"),
        round(col("num") / col("den"), 6).as("acf"))
  }

  /** Exponentially-weighted moving average over per-key ordered
    * series, integer-exact: s_1 = x_1, then
    * s_t = (num·x_t + (den−num)·s_{t−1}) DIV den — the streaming-
    * friendly smoother next to [[rollingMean7]] (O(1) state per key
    * vs a 7-row buffer), in fixed-point so the recursion replays
    * bit-for-bit in any engine (floats would compound ulp drift
    * across the whole series).
    *
    * A recursion can't vectorize across rows, so each key's series is
    * collected into ONE row (sort_array of (ord, x) structs) and
    * folded row-locally with `aggregate` — bounded by the series
    * length per key (days, not events: the daily pre-aggregation has
    * already collapsed the corpus), the same per-key-bounded-state
    * argument as the VAD islands and session paths. Input rows must
    * be (keyCol, ordCol, xCol BIGINT) — one row per (key, ord).
    *
    * Output: (keyCol, ordCol, xCol, ewma) — the full smoothed series.
    */
  def ewma(daily: DataFrame, keyCol: String, ordCol: String, xCol: String,
           num: Int, den: Int): DataFrame = {
    require(num >= 1 && den > num, s"need 1 <= num < den, got $num/$den")
    val series = daily
      .groupBy(keyCol)
      .agg(sort_array(collect_list(
        struct(col(ordCol).as("o"), col(xCol).as("x")))).as("xs"))
    val folded = series.withColumn("sm", expr(
      s"""aggregate(xs,
         |  CAST(array() AS ARRAY<STRUCT<o: ${daily.schema(ordCol).dataType.sql}, x: BIGINT, s: BIGINT>>),
         |  (acc, e) -> array_append(acc, named_struct(
         |    'o', e.o, 'x', e.x,
         |    's', CASE WHEN size(acc) = 0 THEN e.x
         |              ELSE ($num * e.x + ${den - num} * element_at(acc, -1).s)
         |                   DIV $den END)))""".stripMargin))
    folded.select(col(keyCol), explode(col("sm")).as("r"))
      .select(col(keyCol), col("r.o").as(ordCol), col("r.x").as(xCol),
        col("r.s").as("ewma"))
  }

  /** Burst detection over a keyed daily count series — the volume-
    * anomaly member of the drift family (q143 finds the one global
    * changepoint; this flags every LOCAL spike): a day bursts when its
    * count exceeds the trailing-7-observation mean by two standard
    * deviations. The test is cross-multiplied into pure BIGINTs —
    * with S = Σ of the 7 trailing counts and Q = Σ of their squares,
    *   c > μ + 2σ  ⇔  7c − S > 0  ∧  (7c − S)² > 4·(7Q − S²)
    * so no float (mean, variance, sqrt) ever exists and the oracle
    * replays the flag bit-for-bit. Days with fewer than 7 trailing
    * observations don't judge (warm-up). `lift_micro` reports the
    * spike size as (7c − S)·1e6 DIV max(S, 1) — exact.
    *
    * Scale shape: one scan → (key, day) counts with map-side combine;
    * the two trailing windows run per key over the DAILY series
    * (≤ a few thousand rows per key however large the corpus), and
    * they share one exchange. Raw events never shuffle.
    */
  def burstDays(events: DataFrame, keyCol: String, dayCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(col(keyCol), dayCol.as("d"))
      .groupBy(keyCol, "d")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(keyCol).orderBy("d").rowsBetween(-7, -1)
    daily
      .withColumn("n_prior", count(lit(1)).over(w))
      .withColumn("s7", sum("cnt").over(w))
      .withColumn("q7", sum(expr("cnt * cnt")).over(w))
      .filter(col("n_prior") === 7)
      .withColumn("excess", expr("7 * cnt - s7"))
      // DECIMAL(38,0) intermediates: the burst predicate squares window
      // sums, so pure-BIGINT math wraps silently (non-ANSI) once daily
      // counts near ~1e9 — exactly where DuckDB would error instead.
      // Decimal comparison is exact and raises the ceiling to ~1e18/day;
      // IntegralDivide on decimals still returns BIGINT, so the output
      // schema (and the q224 oracle hash) is unchanged.
      .filter(col("excess") > 0 &&
        expr("""CAST(excess AS DECIMAL(38,0)) * excess
                > 4 * (7 * CAST(q7 AS DECIMAL(38,0))
                       - CAST(s7 AS DECIMAL(38,0)) * s7)"""))
      .select(col(keyCol), col("d"), col("cnt"), col("s7"),
        expr("CAST(excess AS DECIMAL(38,0)) * 1000000 DIV greatest(s7, 1L)")
          .as("lift_micro"))
  }

  /** Rolling exact MEDIAN of a keyed daily count series — the robust
    * companion to the rolling mean (q07): one outlier day drags a
    * 7-day mean by 1/7th of its excess but leaves the median untouched,
    * so ops dashboards overlay both. `window` must be ODD so the
    * median is an ORDER STATISTIC (the middle element) — an exact
    * BIGINT pick, no interpolation, no float; only full windows judge
    * (the burstDays warm-up discipline).
    *
    * Scale shape: one scan → (key, day) counts with map-side combine;
    * one per-key trailing window whose percentile state is
    * window-bounded. Raw events never shuffle.
    */
  def rollingMedian(events: DataFrame, keyCol: String, dayCol: Column,
                    window: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 1 && window % 2 == 1,
      "window must be odd so the median is an exact order statistic")
    val daily = events
      .select(col(keyCol), dayCol.as("d"))
      .groupBy(keyCol, "d")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(keyCol).orderBy("d")
      .rowsBetween(-(window - 1), 0)
    daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("med",
        expr("percentile(cnt, 0.5)").over(w).cast("long"))
      .filter(col("n_win") === window)
      .select(col(keyCol), col("d"), col("cnt"), col("med"))
  }

  /** Hampel despike filter per key — the standard robust outlier
    * detector for sensor/metric series ([[rollingMedian]] reports the
    * robust level; this FLAGS the spikes): a point is a spike when it
    * sits more than `nMad` scaled MADs from the median of its own
    * centered window. The MAD depends on the window's OWN median, so
    * two stacked windows can't express it — instead ONE window pass
    * collects the (window-bounded) value array and both order
    * statistics come out of one sort: med = sorted[(n+1)/2], mad =
    * middle of |v − med|. All exact BIGINT; the Gaussian consistency
    * constant 1.4826 enters as the exact rational 14826/10⁴ in a
    * cross-multiplied predicate (|x−med|·10⁴ > nMad·14826·mad) — no
    * float anywhere, so the flag replays bit-for-bit in SQL.
    *
    * Edge semantics: the window is CENTERED (±(window−1)/2 rows);
    * only full windows judge (the [[rollingMedian]] warm-up
    * discipline) — series edges emit is_spike = false with NULL
    * med/mad rather than judging on partial context. mad = 0
    * (constant window) flags any deviation, the textbook behavior.
    *
    * Scale shape: one map-side-combinable daily rollup, one per-key
    * window whose state is `window` longs — raw events never shuffle,
    * per-key calendar bounds everything.
    */
  def hampelDespike(events: DataFrame, keyCol: String, dayCol: Column,
                    valueCol: Column, window: Int = 7,
                    nMad: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 3 && window % 2 == 1,
      "window must be odd and >= 3 so both medians are order statistics")
    require(nMad >= 1, "nMad must be >= 1")
    val half = (window - 1) / 2
    val daily = events
      .select(col(keyCol), dayCol.as("d"), valueCol.as("v"))
      .groupBy(keyCol, "d")
      .agg(sum("v").as("v"))
    val w = Window.partitionBy(keyCol).orderBy("d")
      .rowsBetween(-half, half)
    daily
      .withColumn("arr", collect_list(col("v")).over(w))
      .withColumn("full", size(col("arr")) === window)
      .withColumn("med", when(col("full"),
        expr(s"array_sort(arr)[${(window + 1) / 2 - 1}]")))
      .withColumn("mad", when(col("full"),
        expr(s"array_sort(transform(arr, x -> abs(x - med)))" +
          s"[${(window + 1) / 2 - 1}]")))
      .select(col(keyCol), col("d"), col("v"), col("med"), col("mad"),
        when(col("full"),
            abs(col("v") - col("med")) * lit(10000L)
              > lit(nMad.toLong) * lit(14826L) * col("mad"))
          .otherwise(lit(false)).as("is_spike"))
  }

  /** INCREMENTAL/streaming Hampel — the despike filter over a
    * PERSISTED daily table so a new event batch never re-reads the
    * accumulated raw corpus (the gram-index/fingerprint-index
    * discipline applied to the q306 analytics family, closing its
    * streaming face): the batch's per-(key, day) PARTIAL sums are
    * appended to a transactional [[graft.sources.SnapshotTable]] —
    * append-only is sound because a day's total is the SUM of its
    * persisted partials, so late events just add rows (no merge, no
    * rewrite) — then flags are recomputed for the TOUCHED KEYS only,
    * reading the index restricted by a key semi join.
    *
    * The delta is key-level, not day-level, because the window is a
    * centered ROW window over the key's observed days: a late partial
    * can shift any neighboring day's median, and a key's whole daily
    * series is calendar-bounded (the [[theilSenTrend]] scale
    * argument) — thousands of rows at most, the cheapest unit that
    * makes folding exact. Folding each delta over previous outputs by
    * (key, day) reproduces [[hampelDespike]] of the full corpus
    * exactly (`StreamingHampelSpec`), INCLUDING late data: the
    * re-emitted rows overwrite the stale flags.
    *
    * Pass `writer = Some((appId, version))` for replay-safe appends (a
    * foreachBatch caller passes the batch id — exactly-once on
    * restart).
    *
    * Output: [[hampelDespike]]'s (keyCol, d, v, med, mad, is_spike),
    * restricted to the batch's keys.
    */
  def hampelDespikeIncremental(spark: org.apache.spark.sql.SparkSession,
                               newEvents: DataFrame, dailyDir: String,
                               keyCol: String, dayCol: Column,
                               valueCol: Column, window: Int = 7,
                               nMad: Int = 3,
                               writer: Option[(String, Long)] = None): DataFrame = {
    val delta = newEvents
      .select(col(keyCol).as("k"), dayCol.as("d"), valueCol.as("v"))
      .groupBy("k", "d").agg(sum("v").as("v"))
    graft.sources.SnapshotTable.appendAs(delta, dailyDir, writer)
    val touched = newEvents.select(col(keyCol).as("k")).distinct()
    val daily = graft.sources.SnapshotTable.read(spark, dailyDir)
      .join(touched, Seq("k"), "left_semi")
      .groupBy("k", "d").agg(sum("v").as("v"))
    hampelDespike(daily.withColumnRenamed("k", keyCol),
      keyCol, col("d"), col("v"), window, nMad)
  }

  /** Theil–Sen robust trend per key — the median of all pairwise
    * day-to-day slopes of the key's daily count series. Where the OLS
    * slope ([[perKeyTrend]]) moves with every outlier day, the
    * Theil–Sen estimator has a 29% breakdown point: a burst day or a
    * logging gap barely shifts it, which is why ops dashboards trust
    * it for "is this entity actually growing?".
    *
    * Determinism discipline: each pairwise slope is micro-rounded to a
    * BIGINT (ONE fixed float op per pair: Δcount·1e6/Δdays), and the
    * median is the exact lower-middle ORDER STATISTIC — the value at
    * 1-based sorted position (n+1) div 2 — not an interpolation, so
    * ties and replay order can't move it.
    *
    * Scale shape: the raw events collapse to (key, day) counts with
    * map-side combine FIRST; the pair self-join runs on that daily
    * table, so it is O(days²) per key — bounded by the calendar (a
    * 3-year series is ~600k pairs per key), NOT by event volume, and
    * each key's pairs stay inside its own hash partition. Keys with a
    * single active day have no pairs and drop out.
    */
  def theilSenTrend(events: DataFrame, keyCol: String,
                    dayCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(col(keyCol), dayCol.as("d"))
      .groupBy(keyCol, "d")
      .agg(count(lit(1)).as("cnt"))
    val a = daily.select(col(keyCol), col("d").as("d1"), col("cnt").as("c1"))
    val b = daily.select(col(keyCol), col("d").as("d2"), col("cnt").as("c2"))
    val pairs = a.join(b, Seq(keyCol))
      .filter(col("d2") > col("d1"))
      .withColumn("slope_micro",
        expr("""CAST(round(CAST(c2 - c1 AS DOUBLE) * 1000000.0
                / CAST(datediff(d2, d1) AS DOUBLE)) AS BIGINT)"""))
    val byKey = Window.partitionBy(col(keyCol))
    val med = pairs
      .withColumn("rn", row_number().over(byKey.orderBy(col("slope_micro"))))
      .withColumn("n_pairs", count(lit(1)).over(byKey))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col(keyCol), col("n_pairs"), col("slope_micro"))
    val days = daily.groupBy(keyCol).agg(count(lit(1)).as("n_days"))
    days.join(med, Seq(keyCol)) // single-day keys: no pairs -> dropped
      .select(col(keyCol), col("n_days"), col("n_pairs"), col("slope_micro"))
  }

  /** Forward-horizon label generation — the leakage-safe way to stamp
    * a prediction target on behavioral data: for every (key, active
    * day), label = 1 iff the key has a TARGET event strictly inside
    * (day, day + horizon] — the strict lower bound keeps same-day
    * signal out of the label (a classifier trained on same-day
    * features+labels is an oracle leak), and `days_to_target` carries
    * the gap for horizon sweeps. The standard churn / conversion /
    * retention label family.
    *
    * Shape: one scan → (key, day, any-target-that-day) with map-side
    * combine, then ONE per-key window over the daily series (min of
    * the FOLLOWING target days via a reversed running min — no range
    * self-join, no explode). Raw events shuffle once on the key.
    */
  def horizonLabels(events: DataFrame, keyCol: String, dayCol: Column,
                    isTarget: Column, horizonDays: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(horizonDays >= 1, "horizonDays must be >= 1")
    val daily = events
      .select(col(keyCol), dayCol.as("d"), isTarget.as("tgt"))
      .groupBy(keyCol, "d")
      .agg(max(when(col("tgt"), col("d"))).as("tgt_day"))
    // next target day STRICTLY AFTER d: running min over the following
    // rows of the per-key day series (days are distinct post-groupBy,
    // so "1 following" is exactly "later calendar days")
    val wNext = Window.partitionBy(keyCol).orderBy("d")
      .rowsBetween(1, Window.unboundedFollowing)
    daily
      .withColumn("next_tgt", min("tgt_day").over(wNext))
      .select(col(keyCol), col("d"),
        datediff(col("next_tgt"), col("d")).cast("long").as("gap"))
      .select(col(keyCol), col("d"),
        when(col("gap").isNotNull && col("gap") <= horizonDays, 1L)
          .otherwise(0L).as("label"),
        when(col("gap") <= horizonDays, col("gap")).as("days_to_target"))
  }

  /** Mann-Kendall trend test per key — the nonparametric significance
    * companion to the Theil-Sen slope ([[theilSenTrend]] says HOW
    * steep, this says WHETHER the monotone trend is real):
    * S = Σ_{i<j} sgn(x_j − x_i) over the key's ordered series, with
    * the tie-corrected variance
    * var_S = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18.
    *
    * EXACT integer significance, no sqrt or float anywhere: the
    * normal-approximation test |z| > 1.96 with the ±1 continuity
    * correction cross-multiplies to
    * (|S|−1)²·18·625 > 2401·var18 (1.96 = 49/25 exactly, var18 = the
    * ×18 variance numerator) — engine-bit-identical, like the q275
    * McNemar integer chi2.
    *
    * Scale shape: pairs come from a per-key self-join of the (key,
    * day, value) series — series are per-key bounded (a year of days),
    * so the join is |key|·n_k² with tiny n_k, shuffled by key;
    * everything after is one grouped aggregate + a model-size tie
    * table. Keys need n ≥ 2 (others drop).
    *
    * Output: (key, n_obs, s, var18, significant).
    */
  def mannKendall(daily: DataFrame, keyCol: String, ordCol: String,
                  valueCol: String): DataFrame = {
    val d = daily.select(col(keyCol).as("k"), col(ordCol).as("o"),
      col(valueCol).as("v"))
    val pairs = d.as("a").join(d.as("b"),
        col("a.k") === col("b.k") && col("a.o") < col("b.o"))
      .groupBy(col("a.k").as("k"))
      .agg(sum(signum(col("b.v") - col("a.v")).cast("long")).as("s"))
    val n = d.groupBy("k").agg(count(lit(1)).as("n_obs"))
    val ties = d.groupBy("k", "v").agg(count(lit(1)).as("t"))
      .groupBy("k")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
    n.join(pairs, Seq("k"), "left")
      .join(ties, Seq("k"))
      .filter(col("n_obs") >= 2L)
      .select(col("k").as(keyCol), col("n_obs"),
        coalesce(col("s"), lit(0L)).as("s"),
        (expr("n_obs * (n_obs - 1) * (2 * n_obs + 5)") - col("tie_term"))
          .as("var18"))
      .withColumn("significant",
        expr("""(abs(s) - 1) * (abs(s) - 1) * 18 * 625 > 2401 * var18
                AND abs(s) > 1"""))
  }

  /** RANSAC line fit (Fischler & Bolles 1981) — the sample-consensus
    * robust regressor beside Theil-Sen ([[theilSenTrend]]): k
    * candidate 2-point models, each scored by how many points fall
    * within `epsY` of its line, winner by consensus. Breakdown
    * tolerance comes from the sampling, not averaging, so a minority
    * of wild outliers can't drag the fit.
    *
    * Determinism discipline: the "random" sample is the portable
    * avalanched hash order of the (x, y) point (pure function of
    * (x, y, seed) — reproducible anywhere, replayable in SQL; y is
    * part of the hash input AND the sort tie-break so duplicate-x
    * inputs still sample deterministically): the 2k smallest-hash
    * points pair up consecutively; degenerate pairs (dx = 0) drop. The inlier test is EXACT integer
    * cross-multiplication — |dx·(y−y1) − dy·(x−x1)| ≤ epsY·|dx| —
    * no division, no float, anywhere; the winner takes max inliers
    * with the lowest model id as tie-break.
    *
    * Scale shape: candidate selection is a TakeOrdered over the
    * point table (the 2k rows ride the driver, the kCenterSelect
    * bounded-pass discipline); scoring is one broadcast cross of k
    * literal models against the points with a map-side-combinable
    * count. The point table itself is usually an upstream daily/key
    * aggregate — model-size, not corpus-size.
    *
    * Output: ONE row — (model_id, x1, y1, x2, y2, n_inliers,
    * n_points, inlier_micro).
    */
  def ransacLine(points: DataFrame, xCol: String, yCol: String,
                 k: Int = 16, epsY: Long = 25000L,
                 seed: Long = 42L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(epsY >= 0L, "epsY must be >= 0")
    val spark = points.sparkSession
    import spark.implicits._
    val pts = points.select(col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y"))
    val cand = pts
      .withColumn("h", pmod(Sketches.mix32(TextAnalysis.rollingHash(
        concat(col("x").cast("string"), lit(":"),
          col("y").cast("string"), lit(":"), lit(seed.toString)))),
        lit(1000000000L)))
      .orderBy(col("h"), col("x"), col("y"))
      .limit(2 * k)
      .select("x", "y").as[(Long, Long)].collect()
    val models = cand.grouped(2).zipWithIndex.collect {
      case (Array((x1, y1), (x2, y2)), i) if x2 != x1 =>
        (i.toLong, x1, y1, x2, y2)
    }.toSeq
    require(models.nonEmpty,
      "ransacLine: no non-degenerate candidate pairs (all sampled x equal)")
    val m = broadcast(models.toDF("model_id", "x1", "y1", "x2", "y2"))
    val scored = pts.crossJoin(m)
      .filter(abs((col("x2") - col("x1")) * (col("y") - col("y1"))
          - (col("y2") - col("y1")) * (col("x") - col("x1")))
        <= lit(epsY) * abs(col("x2") - col("x1")))
      .groupBy("model_id", "x1", "y1", "x2", "y2")
      .agg(count(lit(1)).as("n_inliers"))
    val n = pts.count()
    scored
      .orderBy(col("n_inliers").desc, col("model_id"))
      .limit(1)
      .withColumn("n_points", lit(n))
      .withColumn("inlier_micro", expr("n_inliers * 1000000L DIV n_points"))
  }

  /** Overlapping-interval merge ("islands and gaps") per key — the
    * coverage primitive behind watch-time, machine-uptime and any
    * union-of-spans metric where naive duration sums double-count
    * overlap: sort each key's intervals by start, a new ISLAND begins
    * whenever a start exceeds the running max end of everything
    * before it, and per key the islands' (max end − min start) spans
    * sum to the exact covered length.
    *
    * Exact integers (epoch-seconds lattice); closed-open semantics —
    * touching intervals (start == previous end) belong to the same
    * island. Degenerate/negative durations are clamped to a point.
    *
    * Scale shape: all three windows (running max-end, island flag
    * cumsum, island rollup) partition by key — per-key interval
    * counts bound the window state, never the corpus; the island
    * rollup is one grouped agg.
    *
    * Output: (key, n_intervals, n_islands, covered, gap_total) where
    * `covered` sums island spans and `gap_total` the uncovered time
    * between the key's first start and last end.
    */
  def intervalIslands(df: DataFrame, keyCol: String, start: Column,
                      end: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(keyCol).as("k"), start.as("s"),
        greatest(start, end).as("e"))
    val w = Window.partitionBy("k").orderBy(col("s"), col("e"))
    val flagged = base
      .withColumn("prev_max_e",
        max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"),
          1L).otherwise(0L))
      .withColumn("island",
        sum("new_island").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val islands = flagged.groupBy(col("k"), col("island"))
      .agg(count(lit(1)).as("n_iv"), min("s").as("is_"),
        max("e").as("ie"))
    islands.groupBy("k")
      .agg(sum("n_iv").as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("ie") - col("is_")).as("covered"),
        (max("ie") - min("is_")).as("span"))
      .select(col("k").as(keyCol), col("n_intervals"), col("n_islands"),
        col("covered"), (col("span") - col("covered")).as("gap_total"))
  }

  /** Additive seasonal-trend decomposition of a keyed daily count
    * series (the classical moving-average STL shape, one pass):
    *   trend    = centered 7-day moving average (full windows only),
    *   seasonal = the weekday mean of (cnt − trend), centered so the
    *              seven components sum to ~0 (the classical-
    *              decomposition normalization),
    *   remainder = cnt − trend − seasonal.
    * Full-window trend means a series' first/last 3 days carry NULL
    * components — honest edges, no padding invention.
    *
    * Everything is exact-integer micro fixed point: the detrended
    * value ×7 is the BIGINT `7·cnt − S` (no float ever aggregates —
    * a float sum across partitions would be reduction-order-dependent
    * and unreplayable); the only floats are per-row round(x·1e6/den)
    * conversions of exact integers, each a single IEEE-correct
    * division the oracle replays bit-for-bit.
    *
    * Shape: one scan → (key, day) counts; one per-key ±3-row window;
    * one (key, weekday) aggregation (≤7 rows per key) + one per-key
    * centering window over those ≤7 rows; one join back. Raw events
    * shuffle once.
    */
  def stlDecompose(events: DataFrame, keyCol: String,
                   dayCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select(col(keyCol), dayCol.as("d"))
      .groupBy(keyCol, "d")
      .agg(count(lit(1)).as("cnt"))
    val w7 = Window.partitionBy(keyCol).orderBy("d").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("n_win", count(lit(1)).over(w7))
      .withColumn("s_win", sum("cnt").over(w7))
      // 7·detrended, exact BIGINT; NULL where the window isn't full
      .withColumn("dev7",
        when(col("n_win") === 7, lit(7L) * col("cnt") - col("s_win")))
      .withColumn("wd", ((dayofweek(col("d")) + 5) % 7).cast("long"))
    val seasonalRaw = trended
      .filter(col("dev7").isNotNull)
      .groupBy(keyCol, "wd")
      .agg(sum("dev7").as("sdev7"), count(lit(1)).as("n_dev"))
      .withColumn("seas_micro",
        expr("CAST(round(CAST(sdev7 AS DOUBLE) * 1000000.0 " +
          "/ (7.0 * n_dev)) AS BIGINT)"))
    // center per key: the seasonal profile is defined up to an
    // additive constant that belongs to the trend (≤7 rows per key)
    val wKey = Window.partitionBy(keyCol)
    val seasonal = seasonalRaw
      .withColumn("__csum", sum("seas_micro").over(wKey))
      .withColumn("__cn", count(lit(1)).over(wKey))
      .withColumn("center_micro",
        expr("CAST(round(CAST(__csum AS DOUBLE) / __cn) AS BIGINT)"))
      .select(col(keyCol), col("wd"),
        (col("seas_micro") - col("center_micro")).as("seasonal_micro"))
    trended
      .join(seasonal, Seq(keyCol, "wd"), "left")
      .select(col(keyCol), col("d"), col("cnt"),
        when(col("n_win") === 7,
          expr("CAST(round(CAST(s_win AS DOUBLE) * 1000000.0 / 7.0)" +
            " AS BIGINT)")).as("trend_micro"),
        when(col("n_win") === 7, col("seasonal_micro")).as("seasonal_micro"),
        when(col("n_win") === 7,
          expr("CAST(round(CAST(dev7 AS DOUBLE) * 1000000.0 / 7.0)" +
            " AS BIGINT) - seasonal_micro")).as("remainder_micro"))
  }
}
