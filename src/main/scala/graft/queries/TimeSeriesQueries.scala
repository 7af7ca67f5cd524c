package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import Shared._

/** Queries, each with its DuckDB oracle, for the energy domain and time
  * series over `events` (user_id ~ HomeID, event_type ~ ApplianceType,
  * value ~ EnergyConsumption, ts ~ Date): rollups, densify, rolling
  * windows, anomaly features, sessions, funnels, trends, changepoints and
  * survival curves.
  */
private[graft] object TimeSeriesQueries extends QueryDomain {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A3: daily rollup over the event stream table
    "q05_daily_rollup" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(round(sum("value"), 2).as("total"), count(lit(1)).as("n"))
    }),

    // A5: multi-key multi-agg w/ exact distinct (pandas nunique parity)
    "q06_user_daily" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      TimeSeries.dailyRollup(ev, "user_id", to_date(col("ts")), "value", "event_type")
        .select(col("user_id"), col("Date").as("d"),
          round(col("total_kwh"), 2).as("total"),
          col("unique_appliances").cast("long").as("unique_types"))
    }),

    // W1: trailing 7-row mean per key (rolling(7, min_periods=1) parity)
    "q07_rolling_mean" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(sum("value").as("total"))
      TimeSeries.rollingMean7(daily, "user_id", "d", "total")
        .select(col("user_id"), col("d"),
          round(col("total"), 2).as("total"),
          round(col("rolling_7_mean"), 4).as("rolling_7_mean"))
    }),

    // W2/J2: calendar densification (sequence+explode+left join+fill)
    "q08_densify" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("Date"))
        .agg(sum("value").as("total_kwh"))
      TimeSeries.densify(daily, "user_id", Seq("total_kwh"))
        .select(col("user_id"), col("Date").as("d"),
          round(col("total_kwh"), 2).as("total"))
    }),

    // W3: weekday profile, Monday=0 (pandas dt.dayofweek parity)
    "q09_dow_profile" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(weekday(to_date(col("ts"))).cast("long").as("dow"))
        .agg(round(sum("value"), 2).as("total"), count(lit(1)).as("n"))
    }),

    // A2: seasonal/monthly category rollup
    "q13_monthly_type" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(month(to_date(col("ts"))).cast("long").as("m"), col("event_type"))
        .agg(round(sum("value"), 2).as("total"), count(lit(1)).as("n"))
    }),

    // A6/A7: global scalar KPI row
    "q14_kpis" -> ((s, dir) => {
      Tables.events(s, dir).agg(
        round(sum("value"), 2).as("total_value"),
        round(avg("value"), 4).as("avg_value"),
        count(lit(1)).as("n_records"),
        countDistinct(col("user_id")).as("n_users"))
    }),

    // J1 exact reference shape: per-key totals ⋈ broadcast global avgs
    "q15_user_vs_global" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val user = ev.groupBy("user_id", "event_type")
        .agg(sum("value").as("user_total"))
      val glob = ev.groupBy("event_type")
        .agg(avg("value").as("global_avg"))
      user.join(broadcast(glob), Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          round(col("user_total"), 2).as("user_total"),
          round(col("global_avg"), 4).as("global_avg"))
    }),

    // M3 composite: the full EP3 feature pipeline as one DAG
    "q16_anomaly_features" -> ((s, dir) => anomalyFeatures(s, dir)),

    // M2/M3: the reference's DetectAnomalies endpoint shape — feature
    // pipeline + broadcast IsolationForest scorer (the REAL 200-tree
    // ensemble from the reference artifact). FULL oracle since round
    // 11: features accumulate as exact micro BIGINTs
    // (floor(value·1e4) = micro-kWh of value/100 — the /100 puts
    // per-day totals in the scorer's training range, ~[0,8] kWh), so
    // every split comparison is bit-identical and the DuckDB side
    // (IsoForestScorer.realOracleSql) stages the artifact's 30,636
    // nodes relationally and walks all 200 trees per row with a
    // recursive CTE.
    "q28_anomaly_scores" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          expr("CAST(floor(value * 10000.0) AS BIGINT)").as("vm"),
          to_date(col("ts")).as("d"), col("event_type"))
      val feats = TimeSeries.anomalyFeaturesExactMicro(ev, "user_id",
        col("d"), col("vm"), "event_type")
      graft.ml.IsoForestScorer.scoreFeatures(feats)
        .select(col("user_id"), col("Date").as("d"),
          col("tm").as("total_kwh_micro"),
          col("ua").cast("long").as("unique_types"),
          round(col("score"), 6).as("score"), col("anomaly"))
    }),

    // M1: Prophet closed-form forecast from the reference's model
    // artifact (trend parity proven against the artifact's own fitted
    // trend in MlScorerSpec). FULL oracle since round 11: the MC
    // interval draws are portable-hash deterministic, so the DuckDB
    // side (ProphetScorer.mcOracleSql) replays mean, all 1000 paths
    // and the interpolated percentiles — not just the q88 mean.
    "q29_forecast" -> ((s, _) => {
      graft.ml.ProphetScorer.forecast(s, days = 30)
        .select(col("ds"), round(col("yhat"), 4).as("yhat"),
          round(col("yhat_lower"), 4).as("yhat_lower"),
          round(col("yhat_upper"), 4).as("yhat_upper"))
    }),

    // gap-based sessionization: lag -> flag -> running sum, one
    // exchange shared by both windows
    "q38_sessionize" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      TimeSeries.sessionize(ev, "user_id", "ts", gapMinutes = 60)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("session_value"),
          min(to_date(col("ts"))).as("start_day"))
    }),

    // per-entity linear trend: one closed-form model per user, the
    // whole fleet fitted in a single key-partitioned aggregation
    "q61_per_key_trend" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(sum("value").as("total"))
      TimeSeries.perKeyTrend(daily, "user_id", col("d"), "total")
        .select(col("user_id"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"), col("n_obs"))
    }),

    // fleet-wide anomaly detection: every user's days scored against
    // that user's OWN trend model, flagged at 2 sigma
    "q62_trend_anomalies" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(sum("value").as("total"))
      // the continuous residual is deliberately NOT emitted: covar/var
      // aggregation order makes its last bits run-dependent, so any
      // fixed-decimal rounding of it is a coin flip at grid
      // boundaries. The BOOLEAN is robust (threshold margins are
      // O(resid_sd)).
      TimeSeries.perKeyTrendAnomalies(daily, "user_id", col("d"), "total")
        .select(col("user_id"), col("d"), col("is_anomaly"))
    }),

    // Prophet's predictive MEAN under a full oracle (q29 keeps the
    // complete forecast rows-only — its Monte-Carlo intervals are not
    // SQL-expressible — but yhat is closed-form: piecewise-linear
    // trend + Fourier seasonality over LITERAL fitted parameters).
    // The engine side is a pure codegen'd Column expression (no UDF,
    // no broadcast) that MlScorerSpec pins bit-equal to the
    // sequential Model.yhat loop q29 ships, so the oracle transitively
    // pins q29's mean path. Day counts come from datediff (integer,
    // timezone-free), never from a timestamp cast.
    "q88_prophet_yhat" -> ((s, dir) => {
      val m = graft.ml.ProphetScorer.bundled
      val first = m.historyEnd.plusDays(1).toString
      val last = m.historyEnd.plusDays(120).toString
      s.range(1)
        .select(explode(sequence(to_date(lit(first)), to_date(lit(last)),
          expr("interval 1 day"))).as("ds"))
        .withColumn("d", datediff(col("ds"), lit("1970-01-01")).cast("double"))
        .select(col("ds"),
          round(graft.ml.ProphetScorer.yhatColumn(m, col("d")), 6).as("yhat"))
    }),

    // interval × interval overlap join: user sessions (closed
    // [min ts, max ts] intervals from q38's sessionization) against
    // each day's 10:00–13:59:59 peak window — hour-bucket equi-join,
    // each overlapping pair emitted exactly once via the canonical
    // greatest-start bucket, overlap length in exact integer seconds
    "q115_session_overlap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // whole-second bounds: the oracle compares floored epoch
      // seconds, so the engine predicate must not see sub-second parts
      val sess = TimeSeries.sessionize(ev, "user_id", "ts", gapMinutes = 60)
        .groupBy("user_id", "session_id")
        .agg(date_trunc("second", min(col("ts"))).as("s_start"),
          date_trunc("second", max(col("ts"))).as("s_end"))
      val wins = ev.select(to_date(col("ts")).as("d")).distinct()
        .select(col("d"),
          (unix_timestamp(col("d").cast("timestamp")) + 10L * 3600L)
            .cast("timestamp").as("w_start"),
          (unix_timestamp(col("d").cast("timestamp")) + 14L * 3600L - 1L)
            .cast("timestamp").as("w_end"))
      graft.core.Joins.intervalOverlapJoin(sess, wins,
          "s_start", "s_end", "w_start", "w_end")
        .select(col("user_id"), col("session_id"), col("d"),
          (least(unix_timestamp(col("s_end")), unix_timestamp(col("w_end")))
            - greatest(unix_timestamp(col("s_start")),
                unix_timestamp(col("w_start")))).as("overlap_s"))
    }),

    // Spark's NATIVE session_window aggregation (the built-in form of
    // q38's hand-rolled sessionize; measured parity INCLUDING the
    // exact gap boundary — touching windows merge — pinned in
    // TimeSeriesSpec): one grouped agg, no window functions
    "q118_session_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"),
          session_window(col("ts"), "60 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("session_value"))
        .select(col("user_id"),
          to_date(col("sw.start")).as("start_day"),
          (unix_timestamp(col("sw.end")) - lit(3600L)
            - unix_timestamp(col("sw.start"))).as("duration_s"),
          col("n_events"), col("session_value"))
    }),

    // windowed funnel (sequence-match operator): view -> click ->
    // purchase, each step strictly after the last, stage capped by a
    // 7-day window from step 1 — all integer epoch-second arithmetic
    "q137_funnel" -> ((s, dir) => {
      TimeSeries.funnelStages(Tables.events(s, dir), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowSec = 7L * 24 * 3600)
        .select(col("user_id"), col("stage"), col("t1"), col("t2"), col("t3"))
    }),

    // cohort retention matrix: users by ISO week of first signup,
    // distinct-counted per week offset of ANY later activity — exact
    // date arithmetic, offset = day-diff DIV 7
    "q138_cohort_retention" -> ((s, dir) => {
      TimeSeries.cohortRetention(Tables.events(s, dir), "user_id", "ts",
          "event_type", cohortEvent = "signup")
        .select(col("cohort_week"), col("week_offset"), col("n_users"))
    }),

    // session PATH analysis (the third product-analytics operator):
    // top-20 5-step journeys by session count — first-5 pruned with a
    // per-session row_number BEFORE any collect, so per-group state is
    // bounded by 5 regardless of session length; the final rank
    // window orders the path-count table (bounded by the event-type
    // alphabet, model-size state — the vocab-numbering precedent)
    "q141_session_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val sess = TimeSeries.sessionize(ev, "user_id", "ts", gapMinutes = 60)
        .withColumn("t", col("ts").cast("timestamp").cast("long"))
      val wS = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("t"), col("event_id"))
      val first5 = sess.withColumn("rn", row_number().over(wS))
        .filter(col("rn") <= 5)
      val paths = first5.groupBy(col("user_id"), col("session_id"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      val counts = paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      // top-k FIRST via orderBy+limit (TakeOrderedAndProject — a
      // distributed per-partition top-20 + driver merge), THEN rank the
      // bounded 20 rows: distinct 5-step paths grow with the event-type
      // alphabet, so an unpartitioned rank window over the full count
      // table would be a single-partition sort of an unbounded table at
      // web scale (the q96 shape; same deterministic order, same hash)
      counts.orderBy(desc("n_sessions"), asc("path")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("n_sessions"), asc("path"))))
        .select(col("rank").cast("long").as("rank"), col("path"),
          col("n_sessions"))
    }),

    // exact percentile profile (percentile_disc semantics by explicit
    // rank arithmetic — value at row ceil(p*n) ordered ascending, so
    // both engines pick the IDENTICAL stored double; the GK sketch
    // (q98 family) is the approximate scale path, this is the exact
    // one: one exchange per key, both windows share it
    "q142_percentile_profile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val w = Window.partitionBy("event_type").orderBy("value")
      val wc = Window.partitionBy("event_type")
      ev.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wc))
        .groupBy("event_type")
        .agg(
          max(when(col("rn") === ceil(col("n") * 0.5), col("value")))
            .as("p50"),
          max(when(col("rn") === ceil(col("n") * 0.95), col("value")))
            .as("p95"),
          max(when(col("rn") === ceil(col("n") * 0.99), col("value")))
            .as("p99"),
          max(col("n")).as("n"))
        .select(col("event_type"), round(col("p50"), 6).as("p50"),
          round(col("p95"), 6).as("p95"), round(col("p99"), 6).as("p99"),
          col("n"))
    }),

    // CUSUM changepoint per event_type — the drift family's temporal
    // member (PSI/KS/centroid/OOV are distributional): argmax_d of
    // |n*prefix(d) - total*d| over the daily series, which is the
    // mean-relative CUSUM scaled by n so the whole statistic stays in
    // exact BIGINTs (floor-micro day values; n*prefix ~ 6e14 at sf0.1
    // — 4 orders below the BIGINT edge, and day counts don't grow
    // with corpus size)
    "q143_cusum_changepoint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
      val wOrd = Window.partitionBy("event_type").orderBy("d")
      val wAll = Window.partitionBy("event_type")
      val t = daily
        .withColumn("cum", sum("v").over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("idx", row_number().over(wOrd).cast("long"))
        .withColumn("total", sum("v").over(wAll))
        .withColumn("n_days", count(lit(1)).over(wAll))
        .withColumn("t_stat",
          col("n_days") * col("cum") - col("total") * col("idx"))
      val wBest = Window.partitionBy("event_type")
        .orderBy(abs(col("t_stat")).desc, col("d").asc)
      t.withColumn("rnk", row_number().over(wBest))
        .filter(col("rnk") === 1)
        .select(col("event_type"), col("d").as("changepoint_day"),
          abs(col("t_stat")).as("t_abs"), col("n_days"))
    }),

    // robust outlier gate: median/MAD via two q142-style exact rank
    // passes (median and MAD are SELECTED stored doubles, so the
    // 3*MAD threshold is the same IEEE comparison on both engines) —
    // the data-cleaning alternative to mean/stddev z-scores, immune
    // to the outliers it hunts
    "q145_mad_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val w1 = Window.partitionBy("event_type").orderBy("value")
      val wc = Window.partitionBy("event_type")
      val med = ev
        .withColumn("rn", row_number().over(w1).cast("long"))
        .withColumn("n", count(lit(1)).over(wc))
        .groupBy("event_type")
        .agg(max(when(col("rn") === ceil(col("n") * 0.5), col("value")))
          .as("med"), max(col("n")).as("n"))
      val dev = ev.join(med, "event_type")
        .withColumn("ad", abs(col("value") - col("med")))
      val w2 = Window.partitionBy("event_type").orderBy("ad")
      val mad = dev
        .withColumn("rn2", row_number().over(w2).cast("long"))
        .groupBy("event_type")
        .agg(max(when(col("rn2") === ceil(col("n") * 0.5), col("ad")))
          .as("mad"))
      dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
          round(max(col("med")), 6).as("med"),
          round(max(col("mad")), 6).as("mad"),
          sum(when(col("ad") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          max(col("n")).as("n"))
    }),

    // last-touch attribution: every purchase credits the most recent
    // preceding non-purchase touch (<= semantics via the as-of join,
    // touch side made unique per (user, ts) by max-event_id so the
    // as-of carry is deterministic), 'direct' when none within the
    // 1-day lookback — the marketing-analytics as-of composition
    "q147_last_touch" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val touches = ev.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id").as("t_user"), col("ts").as("touch_ts"))
        .agg(expr("max_by(event_type, event_id)").as("touch_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val att = Joins.asofBackward(purchases, touches,
        leftKey = "user_id", rightKey = "t_user",
        leftTs = col("ts"), rightTs = col("touch_ts"),
        valueCols = Seq("touch_type", "touch_ts"))
      att.withColumn("channel",
          when(col("touch_ts").isNull ||
            col("ts").cast("timestamp").cast("long")
              - col("touch_ts").cast("timestamp").cast("long") > 86400L,
            lit("direct")).otherwise(col("touch_type")))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"))
    }),

    // EWMA smoothing of the per-type daily series, alpha = 1/8 in
    // integer fixed-point: s_t = (x_t + 7*s_{t-1}) DIV 8 — the O(1)-
    // state streaming smoother next to the rolling mean, exactly
    // replayable (a float EWMA would compound ulp drift over the
    // whole series)
    "q158_ewma" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(floor(value * 1000000.0) AS BIGINT)"))
          .as("x_micro"))
      TimeSeries.ewma(daily, "event_type", "d", "x_micro", 1, 8)
        .select(col("event_type"), col("d"), col("x_micro"),
          col("ewma").as("ewma_micro"))
    }),

    // robust (trimmed + winsorized) per-type statistics: exact ranks
    // drop/clamp 5% per tail — integer-exact complements of the
    // mean/σ aggregates, q142's shared-exchange rank machinery
    "q164_winsorized_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wR = Window.partitionBy("event_type").orderBy("v", "event_id")
      val wN = Window.partitionBy("event_type")
      val ranked = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          expr("CAST(floor(value * 1000000.0) AS BIGINT)").as("v"))
        .withColumn("r", row_number().over(wR).cast("long"))
        .withColumn("n", count(lit(1)).over(wN))
        .withColumn("t", expr("n DIV 20"))
      ranked.groupBy("event_type").agg(
        max("n").as("n"),
        max("t").as("n_tail"),
        max(when(col("r") === col("t") + 1, col("v"))).as("lo_micro"),
        max(when(col("r") === col("n") - col("t"), col("v"))).as("hi_micro"),
        sum(when(col("r") > col("t") && col("r") <= col("n") - col("t"),
          col("v")).otherwise(0L)).as("sum_trimmed_micro"))
        .withColumn("sum_winsor_micro",
          expr("sum_trimmed_micro + n_tail * (lo_micro + hi_micro)"))
    }),

    // lag-k autocorrelation of the per-type daily series (the weekly
    // cycle shows at lag 7): float by definition, but every sum is a
    // row-local LEFT FOLD in series order, so the IEEE arithmetic
    // replays operation-for-operation in the oracle
    "q165_autocorrelation" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(floor(value * 1000000.0) AS BIGINT)"))
          .cast("double").as("x"))
      TimeSeries.acf(daily, "event_type", "d", "x", maxLag = 7)
    }),

    // dispersion (variance-to-mean) index of per-type event values —
    // burstiness vs Poisson-ness, the drift family's shape member:
    // exact integer sufficient statistics (n, Σx, Σx²), one rounded
    // float ratio at the end
    "q180_dispersion" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(floor(value) AS BIGINT)").as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(expr("x * x")).as("ssq"))
        .select(col("event_type"), col("n"), col("s"), col("ssq"),
          round(expr(
            """CAST(n * ssq - s * s AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))""".stripMargin),
            6).as("vmr"))),

    // RFM segmentation (product analytics): per-user recency /
    // frequency / monetary, each cut at discrete quartiles derived
    // from DISTINCT-VALUE cumulative counts (the rocAuc lattice
    // pattern — boundaries come from grouped counts over the bounded
    // value lattice, never a corpus-wide sort), then the 4×4×4
    // segment census. All integer: recency in days, monetary on the
    // micro lattice; cum*4 >= nu*k is ceil(k·nu/4) without division
    "q193_rfm_segments" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val u = ev.groupBy(col("user_id"))
        .agg(max(to_date(col("ts"))).as("last_d"),
          count(lit(1)).as("f"),
          sum(expr("CAST(floor(value * 1000000.0) AS BIGINT)"))
            .as("m_micro"))
      val gl = u.agg(max(col("last_d")).as("maxd"),
        count(lit(1)).as("nu"))
      val r = u.crossJoin(broadcast(gl))
        .withColumn("r_days",
          datediff(col("maxd"), col("last_d")).cast("long"))
      def quartiles(c: String) = {
        val byV = r.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(gl.select(col("nu"))))
        val w = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        byV.withColumn("cum", sum("cnt").over(w))
          .agg(
            min(when(col("cum") * 4 >= col("nu"), col("v")))
              .as(s"${c}_q1"),
            min(when(col("cum") * 4 >= col("nu") * 2, col("v")))
              .as(s"${c}_q2"),
            min(when(col("cum") * 4 >= col("nu") * 3, col("v")))
              .as(s"${c}_q3"))
      }
      def seg(c: String) =
        (lit(1) + (col(c) > col(s"${c}_q1")).cast("int")
          + (col(c) > col(s"${c}_q2")).cast("int")
          + (col(c) > col(s"${c}_q3")).cast("int")).cast("long")
      r.crossJoin(broadcast(quartiles("r_days")))
        .crossJoin(broadcast(quartiles("f")))
        .crossJoin(broadcast(quartiles("m_micro")))
        .select(seg("r_days").as("r_seg"), seg("f").as("f_seg"),
          seg("m_micro").as("m_seg"))
        .groupBy("r_seg", "f_seg", "m_seg")
        .agg(count(lit(1)).as("n_users"))
    }),

    // first-order Markov transition matrix over per-user event
    // streams: (type → next type) counts from one lead window
    // (user-partitioned — scales with users), probabilities as exact
    // integer micro shares of each from-type's row. The
    // next-event-prediction / funnel-free flow card
    "q194_markov_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val pairs = ev
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n_trans"))
      val wf = Window.partitionBy("from_type")
      pairs.withColumn("from_total", sum("n_trans").over(wf))
        .withColumn("p_micro", expr("n_trans * 1000000 DIV from_total"))
        .select(col("from_type"), col("to_type"), col("n_trans"),
          col("from_total"), col("p_micro"))
    }),

    // Holt double exponential smoothing (level + trend) per event
    // type, α=1/2 β=1/4 — the q158 EWMA upgraded with a trend state.
    // Daily sums land on the exact micro lattice first; the two-state
    // recursion is an ORDERED fold in date order with dyadic
    // coefficients, so every step is the same correctly-rounded IEEE
    // op sequence in both engines (the q165 discipline with a
    // 2-vector state). b is written 0.125·(x−l+b)+0.75·b — the
    // algebraically-equal form that avoids repeating the l-update
    // subexpression inside the same struct (DuckDB's lambda engine
    // mis-binds the duplicated reference; its oracle replays the
    // recursion as a recursive CTE instead)
    "q195_holt_smoothing" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(floor(value * 1000000.0) AS BIGINT)"))
          .as("x_micro"))
      daily.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("d"), col("x_micro"))))
          .as("os"))
        .withColumn("xs",
          expr("transform(os, e -> CAST(e.x_micro AS DOUBLE))"))
        .withColumn("n_days", size(col("xs")).cast("long"))
        .filter(col("n_days") >= 2)
        .withColumn("hb", expr(
          """aggregate(slice(xs, 2, size(xs) - 1),
            |  named_struct('l', element_at(xs, 1), 'b', CAST(0.0 AS DOUBLE)),
            |  (acc, x) -> named_struct(
            |    'l', 0.5D * x + 0.5D * (acc.l + acc.b),
            |    'b', 0.125D * (x - acc.l + acc.b) + 0.75D * acc.b))"""
            .stripMargin))
        .select(col("event_type"), col("n_days"),
          round(expr("hb.l / 1000000.0"), 6).as("level"),
          round(expr("hb.b / 1000000.0"), 6).as("trend"),
          round(expr("(hb.l + hb.b) / 1000000.0"), 6).as("forecast_1"))
    }),

    // SAX-style PAA symbolization: each type's daily series cut into
    // 7-day segments, each segment reduced to its exact integer mean
    // (PAA), the alphabet assigned from GLOBAL quartiles of the PAA
    // values (the q193 distinct-value lattice machinery — classic SAX
    // z-normalizes with float breakpoints; the quartile alphabet is
    // the exact-integer equivalent). The motif/shape index a
    // time-series store builds
    "q196_sax_symbols" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(floor(value * 1000000.0) AS BIGINT)"))
          .as("x_micro"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val paa = daily
        .withColumn("rn", row_number().over(w))
        .withColumn("seg_idx", expr("CAST((rn - 1) DIV 7 AS BIGINT)"))
        .groupBy(col("event_type"), col("seg_idx"))
        .agg(count(lit(1)).as("n_days"), sum("x_micro").as("sx"))
        .withColumn("paa_micro", expr("sx DIV n_days"))
      val nSeg = paa.agg(count(lit(1)).as("nu"))
      val byV = paa.groupBy(col("paa_micro").as("v"))
        .agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(nSeg))
      val wq = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val qs = byV.withColumn("cum", sum("cnt").over(wq))
        .agg(min(when(col("cum") * 4 >= col("nu"), col("v"))).as("q1"),
          min(when(col("cum") * 4 >= col("nu") * 2, col("v"))).as("q2"),
          min(when(col("cum") * 4 >= col("nu") * 3, col("v"))).as("q3"))
      paa.crossJoin(broadcast(qs))
        .select(col("event_type"), col("seg_idx"), col("n_days"),
          col("paa_micro"),
          expr("""char(96 + 1
            |  + (CASE WHEN paa_micro > q1 THEN 1 ELSE 0 END)
            |  + (CASE WHEN paa_micro > q2 THEN 1 ELSE 0 END)
            |  + (CASE WHEN paa_micro > q3 THEN 1 ELSE 0 END))"""
            .stripMargin).as("symbol"))
    }),

    // weekly seasonality strength per event type — STL's headline
    // number (1 − Var(residual)/Var(series)) with the seasonal
    // component as exact integer weekday means: daily centi-lattice
    // sums, residual = x − weekday mean (integer), both variances from
    // exact BIGINT sufficient statistics, ONE float expression at the
    // end (identical IEEE ops from identical integers in both
    // engines). Bound: centi daily sums ≤ ~6e7 with series ≤ 2500
    // days keeps Σx² < 2^63
    "q200_seasonality_strength" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(floor(value * 100.0) AS BIGINT)")).as("x"))
        .withColumn("wd", expr("CAST(weekday(d) AS BIGINT)"))
      val wdMean = daily
        .groupBy(col("event_type").as("w_type"), col("wd").as("w_wd"))
        .agg(expr("sum(x) DIV count(1)").as("wd_mean"))
      daily.join(broadcast(wdMean),
          col("event_type") === col("w_type") && col("wd") === col("w_wd"))
        .withColumn("r", col("x") - col("wd_mean"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum("x").as("sx"), sum(expr("x * x")).as("sxx"),
          sum("r").as("sr"), sum(expr("r * r")).as("srr"))
        .select(col("event_type"), col("n_days"),
          round(expr(
            """CASE WHEN CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
              |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0D
              |THEN 1.0D
              |  - (CAST(n_days AS DOUBLE) * CAST(srr AS DOUBLE)
              |     - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
              |  / (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
              |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              |ELSE 0D END""".stripMargin), 6).as("seasonality_strength"))
    }),

    // Kaplan-Meier survival of same-type inter-event waits, WITH
    // right-censoring (every stream's last event contributes an
    // open interval to the observation end — dropping it, as naive
    // gap stats do, biases survival DOWN). Exact integer (t, d, n)
    // lattice per type; the only floats are the per-death ln terms
    // folded in dur order (q178 discipline) and one exp; n==d mass
    // extinction folds a -1000 term (exp underflows to exactly 0)
    // rather than ln(0)
    "q208_kaplan_meier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("fe"), col("event_id"))
      val maxFe = ev.agg(max("fe").as("max_fe"))
      val wLead = Window.partitionBy("user_id", "event_type")
        .orderBy(col("fe"), col("event_id"))
      val obs = ev.withColumn("nxt", lead(col("fe"), 1).over(wLead))
        .crossJoin(broadcast(maxFe))
        .select(col("event_type"),
          when(col("nxt").isNotNull, col("nxt") - col("fe"))
            .otherwise(col("max_fe") - col("fe")).as("dur"),
          when(col("nxt").isNotNull, 1L).otherwise(0L).as("death"))
      val summary = obs.groupBy("event_type", "dur")
        .agg(count(lit(1)).as("n_obs"), sum("death").as("n_death"))
      val wCum = Window.partitionBy("event_type").orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = summary
        .withColumn("n_risk",
          sum("n_obs").over(Window.partitionBy("event_type"))
            - sum("n_obs").over(wCum) + col("n_obs"))
      val deaths = risk.filter(col("n_death") > 0)
        .select(col("event_type").as("et"), col("dur"), col("n_death"),
          when(col("n_death") < col("n_risk"),
            log((col("n_risk") - col("n_death")).cast("double")
              / col("n_risk").cast("double")))
            .otherwise(lit(-1000.0)).as("term"))
      import s.implicits._
      val grid = obs.select("event_type").distinct()
        .crossJoin(Seq(21600L, 86400L, 259200L).toDF("horizon_s"))
      grid.join(deaths,
          col("event_type") === col("et") && col("dur") <= col("horizon_s"),
          "left")
        .groupBy("event_type", "horizon_s")
        .agg(
          round(exp(expr(
            """aggregate(transform(sort_array(collect_list(
              |  CASE WHEN dur IS NOT NULL THEN struct(dur, term) END)),
              |  e -> e.term), 0D, (a, t) -> a + t)""".stripMargin)), 6)
            .as("survival"),
          coalesce(sum("n_death"), lit(0L)).as("n_deaths"))
    }),

    // Markov removal-effect attribution (Anderl et al.) — the
    // model-based closer of the attribution family (q147 last-touch
    // counts, q194 raw transitions): user journeys truncated at first
    // purchase feed a first-order chain; each channel's worth is how
    // much conversion DISAPPEARS when that channel is absorbed into
    // NULL. Absorption probabilities by a 100-step fixed-point in
    // micro BIGINT (per-edge floor DIV, so the whole table is exact
    // integer and the oracle replays it as a WITH RECURSIVE list
    // fold); chain + scenarios are model-size (|types|^2 edges). The
    // corpus-scale work is the per-user row_number/lead windows and
    // one eager localCheckpoint of the pre-conversion path (every
    // event up to each user's first purchase, lineage cut on executor
    // storage: 2.95 -> 2.20 s isolated against re-deriving it ~5x)
    "q210_markov_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val ordered = ev.select(col("user_id"),
          when(col("event_type") === "purchase", lit("CONV"))
            .otherwise(col("event_type")).as("st"),
          col("ts"), col("event_id"))
        .withColumn("i", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))))
      val firstp = ordered.filter(col("st") === "CONV")
        .groupBy("user_id").agg(min("i").as("pi"))
      // j is read three times (the START row filter and both lead
      // branches of the transition union), and ordered twice more
      // (firstp + the join), so the user-window subtree re-derived
      // ~5x; materialize the narrow (user_id, st, i) pre-conversion
      // path once (guide §5, the recommendTopK discipline)
      val j = Materialize.localCheckpoint(
        ordered.join(firstp, Seq("user_id"), "left")
          .filter(col("pi").isNull || col("i") <= col("pi"))
          .select("user_id", "st", "i"))
      val nx = j.withColumn("nxt",
        lead(col("st"), 1).over(Window.partitionBy("user_id").orderBy("i")))
      val trans = j.filter(col("i") === 1)
          .select(lit("START").as("f"), col("st").as("t"))
        .unionByName(nx.filter(col("nxt").isNotNull)
          .select(col("st").as("f"), col("nxt").as("t")))
        .unionByName(nx.filter(col("nxt").isNull && col("st") =!= "CONV")
          .select(col("st").as("f"), lit("NULL").as("t")))
      val cnt = trans.groupBy("f", "t").agg(count(lit(1)).as("c"))
      val prob = cnt.join(
          cnt.groupBy("f").agg(sum("c").as("tot")), "f")
        .select(col("f"), col("t"), expr("c * 1000000L DIV tot").as("p"))
      val channels = ev.select(col("event_type")).distinct()
        .filter(col("event_type") =!= "purchase")
        .select(col("event_type").as("scenario"))
      val scenarios = channels
        .unionByName(channels.limit(1).select(lit("full").as("scenario")))
      val scenEdges = scenarios.crossJoin(prob)
        .filter(col("f") =!= col("scenario"))
        .select(col("scenario"), col("f"),
          when(col("t") === col("scenario"), lit("NULL"))
            .otherwise(col("t")).as("t"), col("p"))
        .groupBy("scenario", "f", "t").agg(sum("p").as("p"))
      val statesDf = channels.agg(concat(
        array(lit("START"), lit("CONV"), lit("NULL")),
        sort_array(collect_list(col("scenario")))).as("states"))
      val folded = scenEdges.groupBy("scenario")
        .agg(collect_list(struct(col("f"), col("t"), col("p"))).as("edges"))
        .crossJoin(broadcast(statesDf))
        .select(col("scenario"), expr(
          """element_at(
            |  aggregate(sequence(1, 100),
            |    transform(states, x -> IF(x = 'CONV', 1000000L, 0L)),
            |    (v, k) -> transform(states, x ->
            |      IF(x = 'CONV', 1000000L,
            |        aggregate(filter(edges, e -> e.f = x), 0L,
            |          (a, e) -> a + e.p * element_at(v,
            |            CAST(array_position(states, e.t) AS INT))
            |            DIV 1000000L)))),
            |  CAST(array_position(states, 'START') AS INT))"""
            .stripMargin).as("p_conv"))
      val full = folded.filter(col("scenario") === "full")
        .select(col("p_conv").as("p_full"))
      val perCh = folded.filter(col("scenario") =!= "full")
        .crossJoin(broadcast(full))
        .select(col("scenario").as("channel"), col("p_conv"), col("p_full"),
          expr("1000000L - p_conv * 1000000L DIV greatest(p_full, 1L)")
            .as("re"))
      perCh.crossJoin(broadcast(perCh.agg(sum("re").as("re_sum"))))
        .select(col("channel"), col("p_conv").as("p_conv_micro"),
          col("p_full").as("p_conv_full_micro"),
          col("re").as("removal_effect_micro"),
          expr("re * 1000000L DIV greatest(re_sum, 1L)")
            .as("attribution_micro"))
    }),

    // inter-event dwell-time distribution: per consecutive-event gap
    // (one user-partitioned lead window, exact floored-epoch seconds),
    // p50/p90 per the FROM event's type by discrete ranks over the
    // distinct-gap lattice (the q193 machinery) — the engagement-
    // latency card between funnel steps
    "q201_dwell_times" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val gaps = ev
        .withColumn("e", expr("unix_timestamp(ts)"))
        .withColumn("next_e", lead(col("e"), 1).over(w))
        .filter(col("next_e").isNotNull)
        .select(col("event_type"), (col("next_e") - col("e")).as("gap_s"))
      val n = gaps.groupBy(col("event_type").as("n_type"))
        .agg(count(lit(1)).as("n_gaps"))
      val byV = gaps.groupBy(col("event_type"), col("gap_s"))
        .agg(count(lit(1)).as("cnt"))
      val wq = Window.partitionBy("event_type").orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, 0)
      byV.withColumn("cum", sum("cnt").over(wq))
        .join(broadcast(n), col("event_type") === col("n_type"))
        .groupBy(col("event_type"))
        .agg(max(col("n_gaps")).as("n_gaps"),
          min(when(col("cum") * 2 >= col("n_gaps"), col("gap_s")))
            .as("p50_gap_s"),
          min(when(col("cum") * 10 >= col("n_gaps") * 9, col("gap_s")))
            .as("p90_gap_s"))
    }),

    // Hill tail-index estimator per event type over the centi-lattice
    // values: α̂⁻¹ = (1/k)·Σ ln(x_(i)/x_(k+1)) on the top k=50 order
    // statistics — heavy-tail detection for the value distribution.
    // Ranks on the exact integer lattice (ties broken by rank window
    // over the value only — equal values contribute equal terms, so
    // the tie order cannot change the sum); the ln chain is a
    // rank-ORDERED fold (the q178 discipline); one division + round
    // at the end
    "q203_hill_tail" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 50
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(floor(value * 100.0) AS BIGINT)").as("v"))
        .filter(col("v") > 0)
      val w = Window.partitionBy("event_type").orderBy(desc("v"))
      val top = ev.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k + 1)
      top.groupBy(col("event_type"))
        .agg(expr("transform(sort_array(collect_list(struct(rk, v))), " +
          "e -> CAST(e.v AS DOUBLE))").as("xs"),
          count(lit(1)).as("n_top"))
        .filter(col("n_top") === k + 1)
        .select(col("event_type"),
          round(expr(
            s"""aggregate(slice(xs, 1, $k), 0D,
              |  (a, x) -> a + ln(x / element_at(xs, ${k + 1})))
              |/ CAST($k AS DOUBLE)""".stripMargin), 6)
            .as("hill_inv_alpha"))
    }),

    // time-weighted average per event type — the gauge-metric
    // aggregate (a value holds until the next observation, so each
    // reading weighs by its holding duration): one user-partitioned
    // lead window for the durations, exact integer mass
    // Σ cents·seconds, ONE division at the end. Plain means
    // over-weight chatty periods; TWA doesn't
    "q248_time_weighted_avg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("fe"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_timestamp(col("ts")).as("fe"),
          expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
        .withColumn("nxt", lead(col("fe"), 1).over(w))
        .filter(col("nxt").isNotNull) // last reading has no duration
        .select(col("event_type"), col("vc"),
          (col("nxt") - col("fe")).as("dur"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_obs"),
          sum(expr("vc * dur")).as("mass"),
          sum("dur").as("total_dur"))
        .select(col("event_type"), col("n_obs"),
          expr("mass DIV greatest(total_dur, 1L)").as("twa_cents"),
          col("total_dur"))
    }),

    // leakage-safe forward-horizon labels: per (user, active day),
    // did the user purchase within the NEXT 14 days (same-day signal
    // excluded)? The churn/conversion label family
    "q252_horizon_labels" -> ((s, dir) => {
      TimeSeries.horizonLabels(Tables.events(s, dir), "user_id",
        to_date(col("ts")), col("event_type") === "purchase",
        horizonDays = 14)
        .withColumnRenamed("d", "day")
    }),

    // classical seasonal-trend decomposition of the per-type daily
    // event series: centered 7-day MA trend, centered weekday
    // seasonal, remainder — all exact micro fixed point
    "q254_stl_decompose" -> ((s, dir) => {
      TimeSeries.stlDecompose(Tables.events(s, dir), "event_type",
        to_date(col("ts")))
        .withColumnRenamed("d", "day")
    }),

    // rolling 7-day exact MEDIAN of per-type daily counts — the
    // robust overlay next to q07's rolling mean; odd window keeps the
    // median an exact order statistic (no interpolation, no float)
    "q256_rolling_median" -> ((s, dir) => {
      TimeSeries.rollingMedian(Tables.events(s, dir), "event_type",
        to_date(col("ts")), window = 7)
        .withColumnRenamed("d", "day")
    }),

    // Theil-Sen robust trend of daily volume per event type — the
    // median-of-pairwise-slopes estimator next to q61's OLS trend: a
    // burst day moves OLS, barely moves this. Pairs run on the DAILY
    // table (calendar-bounded), never on raw events
    "q258_theil_sen" -> ((s, dir) => {
      TimeSeries.theilSenTrend(Tables.events(s, dir), "event_type",
        to_date(col("ts")))
    }),

    // Hampel despike over per-type daily revenue: centered rolling
    // median + rolling MAD from ONE window-bounded sorted array,
    // exact-integer cross-multiplied flag (1.4826 = 14826/10^4) —
    // the robust spike detector beside rollingMedian (q220 family)
    "q306_hampel_despike" -> ((s, dir) =>
      TimeSeries.hampelDespike(Tables.events(s, dir), "event_type",
        to_date(col("ts")),
        expr("CAST(round(value * 100) AS BIGINT)"),
        window = 7, nMad = 3)),

    // incremental Hampel over a persisted daily-partials table: three
    // event slices arrive as separate transactional appends — day
    // totals are sums of persisted partials (append-only, late data
    // just adds rows), flags recompute per touched key. The oracle
    // replays the monolithic q306 restricted to the last batch's
    // keys, pinning incremental == batch
    "q312_hampel_incremental" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val t = scratchDir("graft_q312") + "/daily"
      def day = to_date(col("ts"))
      def v = expr("CAST(round(value * 100) AS BIGINT)")
      // the first two calls run for their (eager) index appends; the
      // returned lazy deltas are discarded — only the last batch's
      // delta is the gate's output
      TimeSeries.hampelDespikeIncremental(s,
        e.filter(col("event_id") % 3 === 0), t, "event_type", day, v)
      TimeSeries.hampelDespikeIncremental(s,
        e.filter(col("event_id") % 3 === 2), t, "event_type", day, v)
      TimeSeries.hampelDespikeIncremental(s,
        e.filter(col("event_id") % 3 === 1), t, "event_type", day, v)
    }),

    // overlap-aware interval coverage per user: each event spans
    // [ts, ts + value seconds]; islands merge overlaps/touches, the
    // covered/gap split double-counts nothing
    "q290_interval_islands" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts"))
            + expr("CAST(round(value) AS BIGINT) * 1000000L"))
            .as("end_us"))
      TimeSeries.intervalIslands(ev, "user_id",
        col("start_us"), col("end_us"))
    }),

    // Mann-Kendall monotone-trend significance per event type over
    // the daily cents series — the nonparametric companion to the
    // Theil-Sen slope (q258), all-integer continuity-corrected test
    "q301_mann_kendall" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      TimeSeries.mannKendall(daily, "event_type", "d", "cents")
    }),

    // RANSAC consensus line over the daily-revenue series (x = day
    // index, y = daily cents): 16 hash-sampled 2-point models, exact
    // cross-multiplied inlier tests, winner by consensus — the
    // breakdown-robust closer beside Theil-Sen (q258)
    "q295_ransac" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      val spine = daily.agg(min("d").as("d0"))
      val pts = daily.crossJoin(broadcast(spine))
        .select(datediff(col("d"), col("d0")).as("x"), col("cents"))
      TimeSeries.ransacLine(pts, "x", "cents", k = 16, epsY = 25000L)
    }),

    // Nelson-Aalen cumulative hazard at fixed horizons — the
    // estimator beside Kaplan-Meier (q208) and log-rank (q267):
    // H(t) = sum over death times <= t of d_i/n_risk_i, each term
    // micro-quantized ONCE (d*1e6 DIV n_risk) so the cumulative sum
    // is exact BIGINT — no ln/exp anywhere (KM keeps the float side)
    "q294_nelson_aalen" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("fe"), col("event_id"))
      val maxFe = ev.agg(max("fe").as("max_fe"))
      val wLead = Window.partitionBy("user_id", "event_type")
        .orderBy(col("fe"), col("event_id"))
      val obs = ev.withColumn("nxt", lead(col("fe"), 1).over(wLead))
        .crossJoin(broadcast(maxFe))
        .select(col("event_type"),
          when(col("nxt").isNotNull, col("nxt") - col("fe"))
            .otherwise(col("max_fe") - col("fe")).as("dur"),
          when(col("nxt").isNotNull, 1L).otherwise(0L).as("death"))
      val summary = obs.groupBy("event_type", "dur")
        .agg(count(lit(1)).as("n_obs"), sum("death").as("n_death"))
      val wCum = Window.partitionBy("event_type").orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = summary
        .withColumn("n_risk",
          sum("n_obs").over(Window.partitionBy("event_type"))
            - sum("n_obs").over(wCum) + col("n_obs"))
      val terms = risk.filter(col("n_death") > 0)
        .select(col("event_type").as("et"), col("dur"),
          col("n_death"),
          expr("n_death * 1000000L DIV n_risk").as("h_term"))
      import s.implicits._
      val grid = obs.select("event_type").distinct()
        .crossJoin(Seq(21600L, 86400L, 259200L).toDF("horizon_s"))
      grid.join(terms,
          col("event_type") === col("et") && col("dur") <= col("horizon_s"),
          "left")
        .groupBy("event_type", "horizon_s")
        .agg(coalesce(sum("h_term"), lit(0L)).as("hazard_micro"),
          coalesce(sum("n_death"), lit(0L)).as("n_deaths"))
    }),

    // funnel drop-off report (q137's aggregate face): per step the
    // users reaching it, step-over-step and cumulative conversion in
    // exact micro — the dashboard row the per-user stage table feeds.
    // stage >= k counting via one conditional aggregate; the dense
    // 1..n step spine keeps unreached steps visible as 0 rows
    "q240_funnel_report" -> ((s, dir) => {
      val steps = Seq("view", "click", "purchase")
      val stages = TimeSeries.funnelStages(Tables.events(s, dir),
        "user_id", "ts", "event_type", steps, windowSec = 7L * 24 * 3600)
      import s.implicits._
      val spine = steps.zipWithIndex
        .map { case (n, i) => (i + 1L, n) }
        .toDF("step", "step_name")
      val counts = stages.crossJoin(broadcast(spine.select(col("step"))))
        .filter(col("stage") >= col("step"))
        .groupBy("step").agg(countDistinct(col("user_id")).as("n_users"))
      spine.join(counts, Seq("step"), "left")
        .select(col("step"), col("step_name"),
          coalesce(col("n_users"), lit(0L)).as("n_users"))
        .withColumn("prev",
          lag(col("n_users"), 1).over(
            org.apache.spark.sql.expressions.Window.orderBy("step")))
        .select(col("step"), col("step_name"), col("n_users"),
          expr("CASE WHEN prev IS NULL THEN 1000000 " +
            "WHEN prev = 0 THEN 0 " +
            "ELSE n_users * 1000000 DIV prev END").as("step_conv_micro"),
          expr("CASE WHEN first_value(n_users) OVER (ORDER BY step) = 0 THEN 0 " +
            "ELSE n_users * 1000000 DIV " +
            "first_value(n_users) OVER (ORDER BY step) END")
            .as("cum_conv_micro"))
    }),

    // trailing-window burst detection per event type: a day bursts
    // when its count beats the trailing-7-observation mean by 2σ —
    // cross-multiplied to pure BIGINTs ((7c−S)² > 4(7Q−S²)), so no
    // float mean/variance/sqrt exists anywhere. The local-spike
    // member of the drift family (q143 = one global changepoint)
    "q224_burst_days" -> ((s, dir) =>
      TimeSeries.burstDays(Tables.events(s, dir), "event_type",
        to_date(col("ts")))
        .orderBy(col("event_type"), col("d")))
  )

  def oracleSql: Map[String, String] = Map(
    "q05_daily_rollup" ->
      """SELECT CAST(ts AS DATE) AS d, round(sum(value),2) AS total, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q06_user_daily" ->
      """SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value),2) AS total,
        |  count(DISTINCT event_type) AS unique_types
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q07_rolling_mean" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS total
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d, round(total,2) AS total,
        |  round(avg(total) OVER (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS rolling_7_mean
        |FROM daily""".stripMargin,

    "q08_densify" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS total
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1),
        |dense AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM spine)
        |SELECT de.user_id, de.d, round(coalesce(da.total, 0),2) AS total
        |FROM dense de LEFT JOIN daily da
        |  ON de.user_id = da.user_id AND de.d = da.d""".stripMargin,

    "q09_dow_profile" ->
      """SELECT isodow(CAST(ts AS DATE)) - 1 AS dow,
        |  round(sum(value),2) AS total, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q13_monthly_type" ->
      """SELECT CAST(month(CAST(ts AS DATE)) AS BIGINT) AS m, event_type,
        |  round(sum(value),2) AS total, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q14_kpis" ->
      """SELECT round(sum(value),2) AS total_value, round(avg(value),4) AS avg_value,
        |  count(*) AS n_records, count(DISTINCT user_id) AS n_users
        |FROM events""".stripMargin,

    "q15_user_vs_global" ->
      """WITH u AS (
        |  SELECT user_id, event_type, sum(value) AS user_total
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, avg(value) AS global_avg FROM events GROUP BY 1)
        |SELECT u.user_id, u.event_type, round(u.user_total,2) AS user_total,
        |  round(g.global_avg,4) AS global_avg
        |FROM u JOIN g ON u.event_type = g.event_type""".stripMargin,

    "q16_anomaly_features" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS total,
        |    count(DISTINCT event_type) AS ut
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1),
        |dense AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM spine),
        |filled AS (
        |  SELECT de.user_id, de.d, coalesce(da.total, 0) AS total,
        |    coalesce(da.ut, 0) AS ut
        |  FROM dense de LEFT JOIN daily da
        |    ON de.user_id = da.user_id AND de.d = da.d)
        |SELECT user_id, d, round(total,2) AS total_kwh, ut AS unique_types,
        |  round(avg(total) OVER (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS rolling_7_mean,
        |  isodow(d) - 1 AS dow
        |FROM filled""".stripMargin,

    // q28: the REAL 200-tree artifact staged as a relational table
    // (read_json of the same resource the JVM scorer loads) and walked
    // by a recursive CTE over exact-micro features (see
    // IsoForestScorer.realOracleSql); q89 remains the fixed-ensemble
    // regeneration pin
    "q28_anomaly_scores" -> graft.ml.IsoForestScorer.realOracleSql(),

    // q29: the FULL forecast — mean + portable-hash MC paths +
    // interpolated percentiles — replayed relationally (see
    // ProphetScorer.mcOracleSql); q88 remains the mean-only pin
    "q29_forecast" -> graft.ml.ProphetScorer.mcOracleSql(days = 30),

    "q38_sessionize" ->
      s"""WITH flagged AS (
        |  SELECT user_id, ts, value,
        |$newSessionCols
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  round(sum(value),2) AS session_value,
        |  min(CAST(ts AS DATE)) AS start_day
        |FROM sessions GROUP BY 1, 2""".stripMargin,

    "q61_per_key_trend" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS total
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT user_id, total,
        |    CAST(date_diff('day', min(d) OVER (PARTITION BY user_id), d)
        |      AS DOUBLE) AS xd
        |  FROM daily),
        |agg AS (
        |  SELECT user_id, covar_pop(xd, total) AS cov, var_pop(xd) AS v,
        |    avg(xd) AS mx, avg(total) AS my, count(*) AS n_obs
        |  FROM x GROUP BY 1)
        |SELECT user_id,
        |  round(CASE WHEN v > 0 THEN cov / v ELSE 0 END, 6) AS slope,
        |  round(my - CASE WHEN v > 0 THEN cov / v ELSE 0 END * mx, 6)
        |    AS intercept,
        |  n_obs
        |FROM agg""".stripMargin,

    "q62_trend_anomalies" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS total
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT user_id, d, total,
        |    CAST(date_diff('day', min(d) OVER (PARTITION BY user_id), d)
        |      AS DOUBLE) AS xd
        |  FROM daily),
        |agg AS (
        |  SELECT user_id, covar_pop(xd, total) AS cov, var_pop(xd) AS v,
        |    avg(xd) AS mx, avg(total) AS my
        |  FROM x GROUP BY 1),
        |m AS (
        |  SELECT user_id,
        |    CASE WHEN v > 0 THEN cov / v ELSE 0 END AS slope,
        |    my - CASE WHEN v > 0 THEN cov / v ELSE 0 END * mx AS intercept
        |  FROM agg),
        |r AS (
        |  SELECT x.user_id, x.d,
        |    x.total - (m.intercept + m.slope * x.xd) AS resid
        |  FROM x JOIN m ON x.user_id = m.user_id),
        |sd AS (SELECT user_id, stddev_pop(resid) AS rsd FROM r GROUP BY 1)
        |SELECT r.user_id, r.d,
        |  (sd.rsd > 0 AND abs(r.resid) > 2 * sd.rsd) AS is_anomaly
        |FROM r JOIN sd ON r.user_id = sd.user_id""".stripMargin,

    // q88: closed-form Prophet yhat over the literal fitted params —
    // generated from the SAME model object as the engine expression,
    // term-for-term (see ProphetScorer.yhatSqlExpr)
    "q88_prophet_yhat" -> q88OracleSql,

    // q115: q38's session CTE rolled to [min ts, max ts] intervals,
    // overlap-joined (closed-interval semantics) against each day's
    // 10:00-13:59:59 window; overlap length in exact epoch seconds
    "q115_session_overlap" ->
      s"""WITH flagged AS (
        |  SELECT user_id, ts,
        |$newSessionCols
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, session_id,
        |    CAST(floor(epoch(min(ts))) AS BIGINT) AS s_start,
        |    CAST(floor(epoch(max(ts))) AS BIGINT) AS s_end
        |  FROM sessions GROUP BY 1, 2),
        |wins AS (
        |  SELECT d,
        |    CAST(floor(epoch(CAST(d AS TIMESTAMP))) AS BIGINT)
        |      + 36000 AS w_start,
        |    CAST(floor(epoch(CAST(d AS TIMESTAMP))) AS BIGINT)
        |      + 50399 AS w_end
        |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events))
        |SELECT s.user_id, s.session_id, w.d,
        |  least(s.s_end, w.w_end) - greatest(s.s_start, w.w_start)
        |    AS overlap_s
        |FROM sess s JOIN wins w
        |  ON s.s_start <= w.w_end AND w.w_start <= s.s_end""".stripMargin,

    // q118: the native session_window gap semantics — touching
    // windows MERGE, a split needs diff STRICTLY > gap (measured,
    // pinned in TimeSeriesSpec) — which is exactly q38's lag/cumsum
    // CTE, extended here with duration
    "q118_session_window" ->
      s"""WITH flagged AS (
        |  SELECT user_id, ts, value,
        |$newSessionCols
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(min(ts) AS DATE) AS start_day,
        |  CAST(floor(epoch(max(ts))) AS BIGINT)
        |    - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s,
        |  count(*) AS n_events, round(sum(value), 2) AS session_value
        |FROM sessions GROUP BY user_id, session_id""".stripMargin,

    // q137: per-step correlated min-after-prev joins on floored epoch
    // seconds; stage from the same window arithmetic
    "q137_funnel" ->
      s"""$funnelStepCtes
        |j AS (
        |  SELECT s1.u, s1.t1, s2.t2, s3.t3
        |  FROM s1 LEFT JOIN s2 ON s1.u = s2.u
        |  LEFT JOIN s3 ON s1.u = s3.u)
        |SELECT u AS user_id,
        |  CAST(CASE
        |    WHEN t3 IS NOT NULL AND t3 - t1 <= 604800 THEN 3
        |    WHEN t2 IS NOT NULL AND t2 - t1 <= 604800 THEN 2
        |    ELSE 1 END AS BIGINT) AS stage,
        |  t1, coalesce(t2, -1) AS t2, coalesce(t3, -1) AS t3
        |FROM j""".stripMargin,

    // q138: ISO-Monday week truncation on both engines; offsets from
    // integer date subtraction
    "q138_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id AS u, CAST(ts AS DATE) AS d, event_type AS et
        |  FROM events),
        |c AS (
        |  SELECT u, date_trunc('week', min(d)) AS cohort_week
        |  FROM e WHERE et = 'signup' GROUP BY 1),
        |a AS (
        |  SELECT e.u, c.cohort_week, date_trunc('week', e.d) AS ew
        |  FROM e JOIN c ON e.u = c.u
        |  WHERE date_trunc('week', e.d) >= c.cohort_week)
        |SELECT cohort_week,
        |  CAST((ew - cohort_week) // 7 AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT u) AS BIGINT) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin,

    // q141: q38's session CTE + per-session first-5 + ordered
    // string_agg + the deterministic (count DESC, path ASC) rank
    "q141_session_paths" ->
      s"""WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |$newSessionCols
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_id
        |  FROM flagged),
        |ranked AS (
        |  SELECT user_id, session_id, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn
        |  FROM sessions),
        |paths AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM ranked WHERE rn <= 5 GROUP BY 1, 2),
        |counts AS (
        |  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |  FROM paths GROUP BY 1),
        |rnk AS (
        |  SELECT CAST(row_number() OVER (
        |      ORDER BY n_sessions DESC, path ASC) AS BIGINT) AS rank,
        |    path, n_sessions
        |  FROM counts)
        |SELECT rank, path, n_sessions FROM rnk WHERE rank <= 20""".stripMargin,

    // q142: identical rank arithmetic — the value at ceil(p*n) is
    // well-defined under ties, so no interpolation ambiguity exists
    "q142_percentile_profile" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM events)
        |SELECT event_type,
        |  round(max(CASE WHEN rn = ceil(n * 0.5) THEN value END), 6) AS p50,
        |  round(max(CASE WHEN rn = ceil(n * 0.95) THEN value END), 6) AS p95,
        |  round(max(CASE WHEN rn = ceil(n * 0.99) THEN value END), 6) AS p99,
        |  max(n) AS n
        |FROM r GROUP BY 1""".stripMargin,

    // q143: the same integer CUSUM — floor-micro day values, scaled
    // statistic n*prefix - total*idx, argmax with earliest-day ties
    "q143_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, d,
        |    CAST(sum(v) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS idx,
        |    CAST(sum(v) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_days
        |  FROM daily),
        |scored AS (
        |  SELECT event_type, d, n_days,
        |    abs(n_days * cum - total * idx) AS t_abs,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(n_days * cum - total * idx) DESC, d ASC) AS rnk
        |  FROM t)
        |SELECT event_type, d AS changepoint_day,
        |  CAST(t_abs AS BIGINT) AS t_abs, n_days
        |FROM scored WHERE rnk = 1""".stripMargin,

    // q145: the same two exact rank passes; the 3*MAD comparison runs
    // on identical IEEE doubles (selected values, minimal arithmetic)
    "q145_mad_outliers" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM events),
        |med AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = ceil(n * 0.5) THEN value END) AS med,
        |    max(n) AS n
        |  FROM r GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS ad, m.med, m.n
        |  FROM events e JOIN med m ON e.event_type = m.event_type),
        |r2 AS (
        |  SELECT event_type, ad, med, n,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY ad) AS BIGINT) AS rn2
        |  FROM dev),
        |mad AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn2 = ceil(n * 0.5) THEN ad END) AS mad
        |  FROM r2 GROUP BY 1)
        |SELECT d.event_type, round(max(d.med), 6) AS med,
        |  round(max(a.mad), 6) AS mad,
        |  CAST(sum(CASE WHEN d.ad > 3.0 * a.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  max(d.n) AS n
        |FROM dev d JOIN mad a ON d.event_type = a.event_type
        |GROUP BY 1""".stripMargin,

    // q147: per-purchase argmax-by-ts over touches at or before it
    // (touch side unique per (user, ts), so max_by is well-defined);
    // the lookback compares floored epochs per the q115 convention
    "q147_last_touch" ->
      """WITH tu AS (
        |  SELECT user_id, ts, max_by(event_type, event_id) AS touch_type
        |  FROM events WHERE event_type <> 'purchase'
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |a AS (
        |  SELECT p.event_id, p.ts,
        |    max_by(tu.touch_type, tu.ts) AS touch_type,
        |    max(tu.ts) AS touch_ts
        |  FROM p LEFT JOIN tu
        |    ON tu.user_id = p.user_id AND tu.ts <= p.ts
        |  GROUP BY 1, 2)
        |SELECT CASE WHEN touch_ts IS NULL
        |         OR CAST(floor(epoch(ts)) AS BIGINT)
        |            - CAST(floor(epoch(touch_ts)) AS BIGINT) > 86400
        |       THEN 'direct' ELSE touch_type END AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases
        |FROM a GROUP BY 1""".stripMargin,

    // q158: the identical integer recursion replayed day-by-day per
    // type (both engines' integer division truncates toward zero;
    // operands here are non-negative anyway)
    "q158_ewma" ->
      s"""$dailyIdxCtes
        |rec AS (
        |  SELECT event_type, d, x, i, x AS s FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT n.event_type, n.d, n.x, n.i,
        |    CAST((n.x + 7 * r.s) // 8 AS BIGINT) AS s
        |  FROM rec r JOIN idx n
        |    ON n.event_type = r.event_type AND n.i = r.i + 1)
        |SELECT event_type, d, x AS x_micro, s AS ewma_micro
        |FROM rec""".stripMargin,

    // q164: identical exact ranks, tail boundaries and clamped sums
    "q164_winsorized_stats" ->
      """WITH v AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS v
        |  FROM events),
        |r AS (
        |  SELECT event_type, v,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY v, event_id) AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM v),
        |t AS (SELECT event_type, v, r, n, n // 20 AS t FROM r)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(t) AS BIGINT) AS n_tail,
        |  CAST(max(CASE WHEN r = t + 1 THEN v END) AS BIGINT) AS lo_micro,
        |  CAST(max(CASE WHEN r = n - t THEN v END) AS BIGINT) AS hi_micro,
        |  CAST(sum(CASE WHEN r > t AND r <= n - t THEN v ELSE 0 END)
        |    AS BIGINT) AS sum_trimmed_micro,
        |  CAST(sum(CASE WHEN r > t AND r <= n - t THEN v ELSE 0 END)
        |    + max(t) * (max(CASE WHEN r = t + 1 THEN v END)
        |                + max(CASE WHEN r = n - t THEN v END))
        |    AS BIGINT) AS sum_winsor_micro
        |FROM t GROUP BY 1""".stripMargin,

    // q165: every float sum replayed as the same ordered left fold
    // (list built in series order, seed-prepended reduce) — identical
    // operands, identical IEEE rounding, division and round(_, 6)
    // only at the end
    "q165_autocorrelation" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT))
        |      AS BIGINT) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |ser AS (
        |  SELECT event_type, list(x ORDER BY d) AS xs,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM daily GROUP BY 1),
        |st AS (
        |  SELECT event_type, xs, n,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), xs),
        |      (a, b) -> a + b) / CAST(n AS DOUBLE) AS m
        |  FROM ser),
        |st2 AS (
        |  SELECT event_type, xs, n, m,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [(v - m) * (v - m) for v in xs]), (a, b) -> a + b) AS den
        |  FROM st),
        |lags AS (
        |  SELECT s.event_type, s.xs, s.n, s.m, s.den, l.lag
        |  FROM st2 s, (SELECT unnest(generate_series(1, 7)) AS lag) l
        |  WHERE s.n > l.lag AND s.den <> 0),
        |sc AS (
        |  SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_obs,
        |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        [(xs[i + 1] - m) * (xs[i + 1 + lag] - m)
        |         for i in generate_series(0, CAST(n AS INT) - 1 - lag)]),
        |      (a, b) -> a + b) / den, 6) AS acf
        |  FROM lags)
        |SELECT event_type, lag, n_obs, acf FROM sc""".stripMargin,

    // q180: identical integer sufficient statistics, one rounded
    // float ratio
    "q180_dispersion" ->
      """WITH a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s,
        |    CAST(sum(x * x) AS BIGINT) AS ssq
        |  FROM (SELECT event_type, CAST(floor(value) AS BIGINT) AS x
        |        FROM events)
        |  GROUP BY 1)
        |SELECT event_type, n, s, ssq,
        |  round(CAST(n * ssq - s * s AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS vmr
        |FROM a""".stripMargin,

    // q193: identical distinct-value cumulative quartiles (cum*4 >=
    // nu*k), identical integer segment assignment
    "q193_rfm_segments" ->
      """WITH u AS (
        |  SELECT user_id, max(CAST(ts AS DATE)) AS last_d,
        |    CAST(count(*) AS BIGINT) AS f,
        |    CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS m_micro
        |  FROM events GROUP BY 1),
        |gl AS (
        |  SELECT max(last_d) AS maxd, CAST(count(*) AS BIGINT) AS nu
        |  FROM u),
        |r AS (
        |  SELECT u.*, CAST(date_diff('day', last_d, maxd) AS BIGINT)
        |    AS r_days
        |  FROM u, gl),
        |qr AS (
        |  SELECT min(CASE WHEN cum * 4 >= nu THEN v END) AS q1,
        |    min(CASE WHEN cum * 4 >= nu * 2 THEN v END) AS q2,
        |    min(CASE WHEN cum * 4 >= nu * 3 THEN v END) AS q3
        |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, nu
        |        FROM (SELECT r_days AS v, count(*) AS cnt FROM r
        |              GROUP BY 1), gl)),
        |qf AS (
        |  SELECT min(CASE WHEN cum * 4 >= nu THEN v END) AS q1,
        |    min(CASE WHEN cum * 4 >= nu * 2 THEN v END) AS q2,
        |    min(CASE WHEN cum * 4 >= nu * 3 THEN v END) AS q3
        |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, nu
        |        FROM (SELECT f AS v, count(*) AS cnt FROM r
        |              GROUP BY 1), gl)),
        |qm AS (
        |  SELECT min(CASE WHEN cum * 4 >= nu THEN v END) AS q1,
        |    min(CASE WHEN cum * 4 >= nu * 2 THEN v END) AS q2,
        |    min(CASE WHEN cum * 4 >= nu * 3 THEN v END) AS q3
        |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, nu
        |        FROM (SELECT m_micro AS v, count(*) AS cnt FROM r
        |              GROUP BY 1), gl))
        |SELECT
        |  CAST(1 + (CASE WHEN r_days > qr.q1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r_days > qr.q2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r_days > qr.q3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS r_seg,
        |  CAST(1 + (CASE WHEN f > qf.q1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN f > qf.q2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN f > qf.q3 THEN 1 ELSE 0 END) AS BIGINT) AS f_seg,
        |  CAST(1 + (CASE WHEN m_micro > qm.q1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN m_micro > qm.q2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN m_micro > qm.q3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS m_seg,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM r, qr, qf, qm
        |GROUP BY 1, 2, 3""".stripMargin,

    // q194: one lead window ordered (ts, event_id) per user, exact
    // integer micro shares; positive operands so DIV == //
    "q194_markov_transitions" ->
      """WITH p AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n_trans
        |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |  CAST(sum(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS from_total,
        |  CAST(n_trans * 1000000
        |    // (sum(n_trans) OVER (PARTITION BY from_type)) AS BIGINT)
        |    AS p_micro
        |FROM c""".stripMargin,

    // q195: the two-state recursion as a recursive CTE (DuckDB's
    // lambda engine mis-binds a struct field referenced while the
    // same name is being rebuilt, so no list_reduce here); identical
    // dyadic-coefficient IEEE sequence as the Spark fold
    "q195_holt_smoothing" ->
      s"""$dailyIdxCtes
        |nd AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1),
        |rec AS (
        |  SELECT event_type, i, CAST(x AS DOUBLE) AS l,
        |    CAST(0.0 AS DOUBLE) AS b
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT nx.event_type, nx.i,
        |    CAST(0.5 AS DOUBLE) * CAST(nx.x AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE) * (r.l + r.b) AS l,
        |    CAST(0.125 AS DOUBLE) * (CAST(nx.x AS DOUBLE) - r.l + r.b)
        |      + CAST(0.75 AS DOUBLE) * r.b AS b
        |  FROM rec r JOIN idx nx
        |    ON nx.event_type = r.event_type AND nx.i = r.i + 1)
        |SELECT rec.event_type, n_days,
        |  round(l / 1000000.0, 6) AS level,
        |  round(b / 1000000.0, 6) AS trend,
        |  round((l + b) / 1000000.0, 6) AS forecast_1
        |FROM rec JOIN nd ON rec.event_type = nd.event_type
        |WHERE i = n_days AND n_days >= 2""".stripMargin,

    // q196: same 7-day segmentation, integer PAA means, global
    // distinct-value quartile alphabet
    "q196_sax_symbols" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS x_micro
        |  FROM events GROUP BY 1, 2),
        |seg AS (
        |  SELECT event_type,
        |    CAST((row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      - 1) // 7 AS BIGINT) AS seg_idx,
        |    x_micro
        |  FROM daily),
        |paa AS (
        |  SELECT event_type, seg_idx,
        |    CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x_micro) // count(*) AS BIGINT) AS paa_micro
        |  FROM seg GROUP BY 1, 2),
        |nu AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM paa),
        |qs AS (
        |  SELECT min(CASE WHEN cum * 4 >= nu THEN v END) AS q1,
        |    min(CASE WHEN cum * 4 >= nu * 2 THEN v END) AS q2,
        |    min(CASE WHEN cum * 4 >= nu * 3 THEN v END) AS q3
        |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, nu
        |        FROM (SELECT paa_micro AS v, count(*) AS cnt FROM paa
        |              GROUP BY 1), nu))
        |SELECT event_type, seg_idx, n_days, paa_micro,
        |  chr(96 + 1
        |    + (CASE WHEN paa_micro > q1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN paa_micro > q2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN paa_micro > q3 THEN 1 ELSE 0 END)) AS symbol
        |FROM paa, qs""".stripMargin,

    // q200: weekday(d) ≡ isodow(d) − 1 (both Monday-anchored); the
    // same integer residuals and the same one float expression
    "q200_seasonality_strength" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |dw AS (
        |  SELECT event_type, d, x,
        |    CAST(isodow(d) - 1 AS BIGINT) AS wd
        |  FROM daily),
        |wm AS (
        |  SELECT event_type AS w_type, wd AS w_wd,
        |    CAST(sum(x) // count(*) AS BIGINT) AS wd_mean
        |  FROM dw GROUP BY 1, 2),
        |res AS (
        |  SELECT dw.event_type, dw.x, dw.x - wd_mean AS r
        |  FROM dw JOIN wm ON dw.event_type = w_type AND dw.wd = w_wd),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(r) AS BIGINT) AS sr, CAST(sum(r * r) AS BIGINT) AS srr
        |  FROM res GROUP BY 1)
        |SELECT event_type, n_days,
        |  round(CASE WHEN CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    THEN 1.0
        |      - (CAST(n_days AS DOUBLE) * CAST(srr AS DOUBLE)
        |         - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
        |      / (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    ELSE 0 END, 6) AS seasonality_strength
        |FROM st""".stripMargin,

    // q208: same (t, d, n) lattice; the ln terms are built per death
    // row (identical arithmetic) then folded in dur order via
    // list_reduce; LEFT-join misses are filtered out of the fold and
    // coalesce to the empty product (survival 1)
    "q208_kaplan_meier" ->
      s"""$evToRiskCtes
        |deaths AS (
        |  SELECT event_type AS et, dur, n_death,
        |    CASE WHEN n_death < n_risk
        |      THEN ln(CAST(n_risk - n_death AS DOUBLE)
        |              / CAST(n_risk AS DOUBLE))
        |      ELSE CAST(-1000 AS DOUBLE) END AS term
        |  FROM risk WHERE n_death > 0),
        |$gridTail
        |  round(exp(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    coalesce(list(d.term ORDER BY d.dur)
        |               FILTER (WHERE d.dur IS NOT NULL),
        |             CAST([] AS DOUBLE[]))),
        |    (a, t) -> a + t)), 6) AS survival,
        |  CAST(coalesce(sum(d.n_death), 0) AS BIGINT) AS n_deaths
        |FROM grid g LEFT JOIN deaths d
        |  ON d.et = g.event_type AND d.dur <= g.horizon_s
        |GROUP BY 1, 2""".stripMargin,

    // q210: journeys -> counts -> floored micro chain, then the same
    // 100-step vector fixed-point as a WITH RECURSIVE carrying the
    // state vector as a LIST (scalar list lambdas only — DuckDB's
    // recursive term then needs no aggregate); per-edge floor DIV
    // keeps every intermediate an exact BIGINT on both engines
    "q210_markov_attribution" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'purchase' THEN 'CONV'
        |         ELSE event_type END AS st, ts, event_id
        |  FROM events),
        |ordered AS (
        |  SELECT user_id, st, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS i FROM ev),
        |firstp AS (
        |  SELECT user_id, min(i) AS pi FROM ordered
        |  WHERE st = 'CONV' GROUP BY 1),
        |j AS (
        |  SELECT o.user_id, o.st, o.i FROM ordered o
        |  LEFT JOIN firstp f USING (user_id)
        |  WHERE f.pi IS NULL OR o.i <= f.pi),
        |nx AS (
        |  SELECT user_id, st, i,
        |    lead(st) OVER (PARTITION BY user_id ORDER BY i) AS nxt
        |  FROM j),
        |trans AS (
        |  SELECT 'START' AS f, st AS t FROM j WHERE i = 1
        |  UNION ALL SELECT st, nxt FROM nx WHERE nxt IS NOT NULL
        |  UNION ALL SELECT st, 'NULL' FROM nx
        |    WHERE nxt IS NULL AND st <> 'CONV'),
        |cnt AS (SELECT f, t, CAST(count(*) AS BIGINT) AS c
        |        FROM trans GROUP BY 1, 2),
        |tot AS (SELECT f, CAST(sum(c) AS BIGINT) AS tot
        |        FROM cnt GROUP BY 1),
        |prob AS (SELECT cnt.f, cnt.t, c * 1000000 // tot AS p
        |         FROM cnt JOIN tot USING (f)),
        |chans AS (SELECT DISTINCT event_type AS ch FROM events
        |          WHERE event_type <> 'purchase'),
        |scens AS (SELECT 'full' AS scenario
        |          UNION ALL SELECT ch FROM chans),
        |sedges AS (
        |  SELECT scenario, f,
        |    CASE WHEN t = scenario THEN 'NULL' ELSE t END AS t,
        |    CAST(sum(p) AS BIGINT) AS p
        |  FROM scens, prob WHERE f <> scenario GROUP BY 1, 2, 3),
        |sts AS (SELECT list_concat(['START', 'CONV', 'NULL'],
        |          list_sort(list(ch))) AS states FROM chans),
        |eb AS (SELECT scenario,
        |         list(struct_pack(f := f, t := t, p := p)) AS edges
        |       FROM sedges GROUP BY 1),
        |rec AS (
        |  SELECT b.scenario, b.edges, s.states, 0 AS it,
        |    list_transform(s.states, x -> CASE WHEN x = 'CONV'
        |      THEN CAST(1000000 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END) AS v
        |  FROM eb b, sts s
        |  UNION ALL
        |  SELECT scenario, edges, states, it + 1,
        |    list_transform(states, x -> CASE WHEN x = 'CONV'
        |      THEN CAST(1000000 AS BIGINT)
        |      ELSE CAST(coalesce(list_sum(list_transform(
        |        list_filter(edges, e -> e.f = x),
        |        e -> e.p * v[list_position(states, e.t)] // 1000000)),
        |        0) AS BIGINT) END)
        |  FROM rec WHERE it < 100),
        |fin AS (
        |  SELECT scenario, v[list_position(states, 'START')] AS p_conv
        |  FROM rec WHERE it = 100),
        |fullp AS (SELECT p_conv AS p_full FROM fin WHERE scenario = 'full'),
        |perch AS (
        |  SELECT scenario AS channel, p_conv, p_full,
        |    1000000 - p_conv * 1000000 // greatest(p_full, 1) AS re
        |  FROM fin, fullp WHERE scenario <> 'full'),
        |totre AS (SELECT CAST(sum(re) AS BIGINT) AS re_sum FROM perch)
        |SELECT channel, CAST(p_conv AS BIGINT) AS p_conv_micro,
        |  CAST(p_full AS BIGINT) AS p_conv_full_micro,
        |  CAST(re AS BIGINT) AS removal_effect_micro,
        |  CAST(re * 1000000 // greatest(re_sum, 1) AS BIGINT)
        |    AS attribution_micro
        |FROM perch, totre""".stripMargin,

    // q201: same lead window on floored epochs, same discrete-rank
    // percentiles over the distinct-gap lattice
    "q201_dwell_times" ->
      """WITH g AS (
        |  SELECT event_type,
        |    lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id)
        |      - CAST(floor(epoch(ts)) AS BIGINT) AS gap_s
        |  FROM events),
        |g2 AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL),
        |n AS (
        |  SELECT event_type AS n_type, CAST(count(*) AS BIGINT) AS n_gaps
        |  FROM g2 GROUP BY 1),
        |bv AS (
        |  SELECT event_type, gap_s, count(*) AS cnt
        |  FROM g2 GROUP BY 1, 2),
        |cm AS (
        |  SELECT event_type, gap_s,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY gap_s) AS cum
        |  FROM bv)
        |SELECT cm.event_type, CAST(max(n_gaps) AS BIGINT) AS n_gaps,
        |  CAST(min(CASE WHEN cum * 2 >= n_gaps THEN gap_s END) AS BIGINT)
        |    AS p50_gap_s,
        |  CAST(min(CASE WHEN cum * 10 >= n_gaps * 9 THEN gap_s END)
        |    AS BIGINT) AS p90_gap_s
        |FROM cm JOIN n ON cm.event_type = n_type
        |GROUP BY 1""".stripMargin,

    // q203: same rank-ordered top-51 list, the same per-term ln chain
    // (transform-then-sum ≡ the fold's sequential adds), /50 + round
    "q203_hill_tail" ->
      """WITH v AS (
        |  SELECT event_type, CAST(floor(value * 100.0) AS BIGINT) AS v
        |  FROM events WHERE CAST(floor(value * 100.0) AS BIGINT) > 0),
        |top AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v DESC)
        |      AS rk
        |  FROM v QUALIFY rk <= 51),
        |agg AS (
        |  SELECT event_type, list(CAST(v AS DOUBLE) ORDER BY rk) AS xs,
        |    CAST(count(*) AS BIGINT) AS n_top
        |  FROM top GROUP BY 1)
        |SELECT event_type,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(xs[1:50], x -> ln(x / xs[51]))),
        |    (a, x) -> a + x) / 50.0, 6) AS hill_inv_alpha
        |FROM agg WHERE n_top = 51""".stripMargin,

    // q248: the same per-(user, type) lead window and integer mass
    "q248_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS fe,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |led AS (
        |  SELECT event_type, vc,
        |    lead(fe) OVER (PARTITION BY user_id, event_type
        |      ORDER BY fe, event_id) - fe AS dur
        |  FROM e),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
        |    CAST(sum(vc * dur) AS BIGINT) AS mass,
        |    CAST(sum(dur) AS BIGINT) AS total_dur
        |  FROM led WHERE dur IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_obs,
        |  mass // greatest(total_dur, 1) AS twa_cents, total_dur
        |FROM agg""".stripMargin,

    // q252: per-user daily grid, next-target via the reversed running
    // min window, strict same-day exclusion
    "q252_horizon_labels" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    max(CASE WHEN event_type = 'purchase'
        |        THEN CAST(ts AS DATE) END) AS tgt_day
        |  FROM events GROUP BY 1, 2),
        |nx AS (
        |  SELECT user_id, day,
        |    min(tgt_day) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_tgt
        |  FROM daily),
        |g AS (SELECT user_id, day,
        |  CAST(next_tgt - day AS BIGINT) AS gap FROM nx)
        |SELECT user_id, day,
        |  CAST(CASE WHEN gap IS NOT NULL AND gap <= 14
        |    THEN 1 ELSE 0 END AS BIGINT) AS label,
        |  CASE WHEN gap <= 14 THEN gap END AS days_to_target
        |FROM g""".stripMargin,

    // q254: the same full-window MA + weekday-mean algebra, every
    // float a per-row round over exact integers
    "q254_stl_decompose" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT event_type, day, cnt,
        |    CAST(count(*) OVER w AS BIGINT) AS n_win,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS s_win
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dev AS (
        |  SELECT event_type, day, cnt, n_win, s_win,
        |    CASE WHEN n_win = 7 THEN 7 * cnt - s_win END AS dev7,
        |    (isodow(day) - 1) AS wd
        |  FROM win),
        |seas AS (
        |  SELECT event_type, wd,
        |    CAST(round(CAST(sum(dev7) AS DOUBLE) * 1000000.0
        |      / (7.0 * count(*))) AS BIGINT) AS seas_micro
        |  FROM dev WHERE dev7 IS NOT NULL GROUP BY 1, 2),
        |cent AS (
        |  SELECT event_type, wd,
        |    seas_micro - CAST(round(
        |      CAST(sum(seas_micro) OVER (PARTITION BY event_type) AS DOUBLE)
        |      / (count(*) OVER (PARTITION BY event_type))) AS BIGINT)
        |      AS seasonal_micro
        |  FROM seas)
        |SELECT d.event_type, d.day, d.cnt,
        |  CASE WHEN d.n_win = 7 THEN CAST(round(CAST(d.s_win AS DOUBLE)
        |    * 1000000.0 / 7.0) AS BIGINT) END AS trend_micro,
        |  CASE WHEN d.n_win = 7 THEN c.seasonal_micro END AS seasonal_micro,
        |  CASE WHEN d.n_win = 7 THEN CAST(round(CAST(d.dev7 AS DOUBLE)
        |    * 1000000.0 / 7.0) AS BIGINT) - c.seasonal_micro END
        |    AS remainder_micro
        |FROM dev d LEFT JOIN cent c
        |  ON d.event_type = c.event_type AND d.wd = c.wd""".stripMargin,

    // q256: the same trailing window; quantile_disc == the exact
    // middle order statistic of an odd window
    "q256_rolling_median" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT event_type, day, cnt,
        |    count(*) OVER w AS n_win,
        |    CAST(quantile_disc(cnt, 0.5) OVER w AS BIGINT) AS med
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, cnt, med FROM win WHERE n_win = 7""".stripMargin,

    // q258: identical micro-rounded pairwise slopes and the same
    // lower-middle order statistic ((n+1) div 2)
    "q258_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.event_type,
        |    CAST(round(CAST(b.cnt - a.cnt AS DOUBLE) * 1000000.0
        |      / CAST(b.d - a.d AS DOUBLE)) AS BIGINT) AS slope_micro
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND b.d > a.d),
        |ranked AS (
        |  SELECT event_type, slope_micro,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope_micro) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_pairs
        |  FROM pairs),
        |med AS (
        |  SELECT event_type, n_pairs, slope_micro FROM ranked
        |  WHERE rn = (n_pairs + 1) // 2),
        |days AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1)
        |SELECT d.event_type, d.n_days, m.n_pairs, m.slope_micro
        |FROM days d JOIN med m ON d.event_type = m.event_type""".stripMargin,

    // q306: the centered window array + both order statistics + the
    // cross-multiplied flag replayed
    "q306_hampel_despike" ->
      s"""$hampelQuery""".stripMargin,

    // q312: the q306 monolith restricted to the %3 = 1 batch's keys —
    // the incremental path's key-level delta over the full
    // accumulated partials must land exactly here
    "q312_hampel_incremental" ->
      s"""$hampelQuery
        |WHERE event_type IN (
        |  SELECT DISTINCT event_type FROM events
        |  WHERE event_id % 3 = 1)""".stripMargin,

    // q290: the same islands-and-gaps windows — running max end,
    // island-start flags, cumulative island ids, per-island rollup
    "q290_interval_islands" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |    greatest(epoch_us(ts),
        |      epoch_us(ts) + CAST(round(value) AS BIGINT) * 1000000)
        |      AS e
        |  FROM events),
        |f AS (
        |  SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max_e
        |  FROM iv),
        |g AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN prev_max_e IS NULL OR s > prev_max_e
        |      THEN 1 ELSE 0 END AS ni
        |  FROM f),
        |h AS (
        |  SELECT user_id, s, e,
        |    sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM g),
        |isl AS (
        |  SELECT user_id, island, count(*) AS n_iv,
        |    min(s) AS is_, max(e) AS ie
        |  FROM h GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(ie - is_) AS BIGINT) AS covered,
        |  CAST(max(ie) - min(is_) - sum(ie - is_) AS BIGINT)
        |    AS gap_total
        |FROM isl GROUP BY user_id""".stripMargin,

    // q301: the same pair signs, tie-corrected x18 variance, and the
    // cross-multiplied continuity-corrected significance
    "q301_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type AS k, CAST(ts AS DATE) AS o,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT a.k,
        |    CAST(sum(CASE WHEN b.v > a.v THEN 1
        |      WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.k = b.k AND a.o < b.o
        |  GROUP BY 1),
        |n AS (SELECT k, CAST(count(*) AS BIGINT) AS n_obs
        |  FROM daily GROUP BY 1),
        |ties AS (
        |  SELECT k, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
        |    AS tie_term
        |  FROM (SELECT k, v, CAST(count(*) AS BIGINT) AS t
        |        FROM daily GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT n.k AS event_type, n.n_obs, COALESCE(s.s, 0) AS s,
        |  n.n_obs * (n.n_obs - 1) * (2 * n.n_obs + 5) - t.tie_term
        |    AS var18,
        |  (abs(COALESCE(s.s, 0)) - 1) * (abs(COALESCE(s.s, 0)) - 1)
        |      * 18 * 625
        |    > 2401 * (n.n_obs * (n.n_obs - 1) * (2 * n.n_obs + 5)
        |      - t.tie_term)
        |  AND abs(COALESCE(s.s, 0)) > 1 AS significant
        |FROM n LEFT JOIN s ON n.k = s.k
        |JOIN ties t ON n.k = t.k
        |WHERE n.n_obs >= 2""".stripMargin,

    // q295: the hash sample order, consecutive pairing, integer
    // cross-multiplied inlier test and consensus argmax replayed
    "q295_ransac" ->
      s"""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1),
        |pts AS (
        |  SELECT CAST(date_diff('day', (SELECT min(d) FROM daily), d)
        |    AS BIGINT) AS x, cents AS y
        |  FROM daily),
        |h0 AS (
        |  SELECT x, y,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)
        |          || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM pts),
        |$h1H2Ctes
        |cand AS (
        |  SELECT x, y, row_number() OVER (ORDER BY
        |      xor(hv2, hv2 // 65536) % 1000000000, x, y) AS rn
        |  FROM h2
        |  ORDER BY xor(hv2, hv2 // 65536) % 1000000000, x, y LIMIT 32),
        |models AS (
        |  SELECT (a.rn - 1) // 2 AS model_id, a.x AS x1, a.y AS y1,
        |    b.x AS x2, b.y AS y2
        |  FROM cand a JOIN cand b
        |    ON a.rn % 2 = 1 AND b.rn = a.rn + 1 AND b.x <> a.x),
        |scored AS (
        |  SELECT m.model_id, m.x1, m.y1, m.x2, m.y2,
        |    CAST(count(*) AS BIGINT) AS n_inliers
        |  FROM models m JOIN pts p
        |    ON abs((m.x2 - m.x1) * (p.y - m.y1)
        |         - (m.y2 - m.y1) * (p.x - m.x1))
        |       <= 25000 * abs(m.x2 - m.x1)
        |  GROUP BY 1, 2, 3, 4, 5),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM pts)
        |SELECT model_id, x1, y1, x2, y2, n_inliers, n.n_points,
        |  n_inliers * 1000000 // n.n_points AS inlier_micro
        |FROM scored, n
        |ORDER BY n_inliers DESC, model_id LIMIT 1""".stripMargin,

    // q294: the q208 risk scaffolding with per-term integer hazards
    "q294_nelson_aalen" ->
      s"""$evToRiskCtes
        |terms AS (
        |  SELECT event_type AS et, dur, n_death,
        |    n_death * 1000000 // n_risk AS h_term
        |  FROM risk WHERE n_death > 0),
        |$gridTail
        |  CAST(coalesce(sum(t.h_term), 0) AS BIGINT) AS hazard_micro,
        |  CAST(coalesce(sum(t.n_death), 0) AS BIGINT) AS n_deaths
        |FROM grid g LEFT JOIN terms t
        |  ON t.et = g.event_type AND t.dur <= g.horizon_s
        |GROUP BY 1, 2""".stripMargin,

    // q240: q137's stage replay aggregated over the dense step spine
    "q240_funnel_report" ->
      s"""$funnelStepCtes
        |st AS (
        |  SELECT s1.u,
        |    CASE WHEN t3 IS NOT NULL AND t3 - t1 <= 604800 THEN 3
        |         WHEN t2 IS NOT NULL AND t2 - t1 <= 604800 THEN 2
        |         ELSE 1 END AS stage
        |  FROM s1 LEFT JOIN s2 ON s1.u = s2.u
        |  LEFT JOIN s3 ON s1.u = s3.u),
        |spine AS (SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'view'), (2, 'click'), (3, 'purchase'))
        |  AS t(step, step_name)),
        |counts AS (
        |  SELECT sp.step, CAST(count(DISTINCT st.u) AS BIGINT) AS n_users
        |  FROM spine sp LEFT JOIN st ON st.stage >= sp.step
        |  GROUP BY 1),
        |conv AS (
        |  SELECT sp.step, sp.step_name, coalesce(c.n_users, 0) AS n_users,
        |    lag(coalesce(c.n_users, 0)) OVER (ORDER BY sp.step) AS prev,
        |    first_value(coalesce(c.n_users, 0)) OVER (ORDER BY sp.step)
        |      AS first_n
        |  FROM spine sp LEFT JOIN counts c ON sp.step = c.step)
        |SELECT step, step_name, n_users,
        |  CASE WHEN prev IS NULL THEN 1000000 WHEN prev = 0 THEN 0
        |       ELSE n_users * 1000000 // prev END AS step_conv_micro,
        |  CASE WHEN first_n = 0 THEN 0
        |       ELSE n_users * 1000000 // first_n END AS cum_conv_micro
        |FROM conv""".stripMargin,

    // q224: the same two trailing windows; the burst predicate is
    // pure integer cross-multiplication on both sides
    "q224_burst_days" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT event_type, d, cnt,
        |    count(*) OVER w AS n_prior,
        |    sum(cnt) OVER w AS s7,
        |    sum(cnt * cnt) OVER w AS q7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, d, cnt, CAST(s7 AS BIGINT) AS s7,
        |  CAST((7 * cnt - s7) * 1000000 // greatest(s7, 1) AS BIGINT)
        |    AS lift_micro
        |FROM win
        |WHERE n_prior = 7 AND 7 * cnt - s7 > 0
        |  AND (7 * cnt - s7) * (7 * cnt - s7) > 4 * (7 * q7 - s7 * s7)
        |ORDER BY event_type, d""".stripMargin
  )

  private[graft] def anomalyFeatures(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    TimeSeries.anomalyFeatures(ev, "user_id", to_date(col("ts")), "value", "event_type")
      .select(
        col("user_id"),
        col("Date").as("d"),
        round(col("total_kwh"), 2).as("total_kwh"),
        col("unique_appliances").cast("long").as("unique_types"),
        round(col("rolling_7_mean"), 4).as("rolling_7_mean"),
        col("dow").cast("long").as("dow"))
  }

  /** q88's oracle: the closed-form Prophet mean replayed in DuckDB
    * from the SAME literal parameters the engine expression embeds
    * (`ProphetScorer.yhatSqlExpr` mirrors `yhatColumn` term-for-term,
    * explicit parens reproducing the fold's association order). The
    * only cross-engine divergence left is sin/cos ulp — absorbed by
    * the shared `round(..., 6)` at the FINAL projection.
    */
  private lazy val q88OracleSql: String = {
    val m = graft.ml.ProphetScorer.bundled
    val first = m.historyEnd.plusDays(1)
    val last = m.historyEnd.plusDays(120)
    s"""WITH spine AS (
       |  SELECT CAST(unnest(generate_series(DATE '$first', DATE '$last',
       |    INTERVAL 1 DAY)) AS DATE) AS ds),
       |dd AS (
       |  SELECT ds, CAST(date_diff('day', DATE '1970-01-01', ds) AS DOUBLE) AS d
       |  FROM spine),
       |tt AS (
       |  SELECT ds, d,
       |    ((d * 86400.0 - ${graft.ml.ProphetScorer.sqlLit(m.start)})
       |      / ${graft.ml.ProphetScorer.sqlLit(m.tScale)}) AS t
       |  FROM dd)
       |SELECT ds,
       |  round(${graft.ml.ProphetScorer.yhatSqlExpr(m, "d", "t")}, 6) AS yhat
       |FROM tt""".stripMargin
  }

  /** CTEs `ev`, `mx`, `obs`, `summary`, `risk` shared by the q208 and q294
    * oracles.
    */
  private lazy val evToRiskCtes: String =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS fe, event_id
      |  FROM events),
      |mx AS (SELECT max(fe) AS max_fe FROM ev),
      |obs AS (
      |  SELECT event_type,
      |    CASE WHEN nxt IS NOT NULL THEN nxt - fe
      |         ELSE max_fe - fe END AS dur,
      |    CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS death
      |  FROM (SELECT user_id, event_type, fe, event_id,
      |          lead(fe) OVER (PARTITION BY user_id, event_type
      |                         ORDER BY fe, event_id) AS nxt
      |        FROM ev), mx),
      |summary AS (
      |  SELECT event_type, dur, CAST(count(*) AS BIGINT) AS n_obs,
      |    CAST(sum(death) AS BIGINT) AS n_death
      |  FROM obs GROUP BY 1, 2),
      |risk AS (
      |  SELECT event_type, dur, n_death,
      |    sum(n_obs) OVER (PARTITION BY event_type)
      |      - sum(n_obs) OVER (PARTITION BY event_type ORDER BY dur
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      + n_obs AS n_risk
      |  FROM summary),""".stripMargin

  /** CTEs `daily`, `win`, `md`, `mm` and the final SELECT shared by the
    * q306 and q312 oracles.
    */
  private lazy val hampelQuery: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |win AS (
      |  SELECT event_type, d, v,
      |    list(v) OVER (PARTITION BY event_type ORDER BY d
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS arr
      |  FROM daily),
      |md AS (
      |  SELECT event_type, d, v, arr,
      |    CASE WHEN len(arr) = 7 THEN list_sort(arr)[4] END AS med
      |  FROM win),
      |mm AS (
      |  SELECT event_type, d, v, med,
      |    CASE WHEN len(arr) = 7 THEN
      |      list_sort(list_transform(arr, x -> abs(x - med)))[4]
      |    END AS mad
      |  FROM md)
      |SELECT event_type, d, v, med, mad,
      |  CASE WHEN med IS NULL THEN false
      |       ELSE abs(v - med) * 10000 > 3 * 14826 * mad END
      |    AS is_spike
      |FROM mm""".stripMargin

  /** CTEs `e`, `s1`, `s2`, `s3` shared by the q137 and q240 oracles. */
  private lazy val funnelStepCtes: String =
    """WITH e AS (
      |  SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS t,
      |    event_type AS et
      |  FROM events),
      |s1 AS (SELECT u, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
      |s2 AS (
      |  SELECT e.u, min(e.t) AS t2
      |  FROM e JOIN s1 ON e.u = s1.u AND e.t > s1.t1
      |  WHERE et = 'click' GROUP BY 1),
      |s3 AS (
      |  SELECT e.u, min(e.t) AS t3
      |  FROM e JOIN s2 ON e.u = s2.u AND e.t > s2.t2
      |  WHERE et = 'purchase' GROUP BY 1),""".stripMargin

  /** CTEs `daily`, `idx` shared by the q158 and q195 oracles. */
  private lazy val dailyIdxCtes: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
      |      AS x
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, d, x,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
      |      AS BIGINT) AS i
      |  FROM daily),""".stripMargin

  /** Column expressions shared by the q38, q115, q118 and q141 oracles. */
  private lazy val newSessionCols: String =
    """    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events""".stripMargin

  /** CTE `grid` and the final SELECT shared by the q208 and q294 oracles. */
  private lazy val gridTail: String =
    """grid AS (
      |  SELECT event_type, horizon_s
      |  FROM (SELECT DISTINCT event_type FROM obs),
      |       (SELECT CAST(unnest([21600, 86400, 259200]) AS BIGINT)
      |          AS horizon_s))
      |SELECT g.event_type, g.horizon_s,""".stripMargin
}
