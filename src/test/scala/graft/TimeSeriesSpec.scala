package graft

import java.sql.Date
import org.apache.spark.sql.functions._
import graft.core.TimeSeries

/** Densification/rolling/weekday invariants (SURVEY §5.3, §7.4 #3). */
class TimeSeriesSpec extends SparkSpec {

  test("perKeyTrend: exact OLS per key; degenerate keys get slope 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      // key "up": y = 2x + 1 exactly over 4 days
      ("up", "2024-01-01", 1.0), ("up", "2024-01-02", 3.0),
      ("up", "2024-01-03", 5.0), ("up", "2024-01-04", 7.0),
      // key "noisy": symmetric around a flat mean -> slope 0
      ("flat", "2024-01-01", 4.0), ("flat", "2024-01-03", 4.0),
      // key "solo": one observation
      ("solo", "2024-01-05", 9.0)
    ).toDF("k", "d", "y").withColumn("d", to_date($"d"))
    val got = graft.core.TimeSeries.perKeyTrend(df, "k", $"d", "y")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(math.abs(got("up")._1 - 2.0) < 1e-12)
    assert(math.abs(got("up")._2 - 1.0) < 1e-12)
    assert(got("up")._3 == 4L)
    assert(math.abs(got("flat")._1) < 1e-12 && got("flat")._2 == 4.0)
    assert(got("solo") == (0.0, 9.0, 1L)) // var 0 -> slope 0, intercept = mean
  }
  import spark.implicits._

  private def daily = Seq(
    ("h1", Date.valueOf("2023-01-01"), 1.0),
    ("h1", Date.valueOf("2023-01-03"), 3.0), // gap on the 2nd
    ("h1", Date.valueOf("2023-01-10"), 10.0),
    ("h2", Date.valueOf("2023-02-05"), 5.0)
  ).toDF("HomeID", "Date", "total_kwh")

  test("perKeyTrendAnomalies: planted spike flagged against its own key's baseline") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // key "a": clean line y=x with one big spike; key "b": clean line,
    // different slope — the spike must only flag on "a"
    val rows = (0 until 30).map { d =>
      val y = if (d == 15) 100.0 else d.toDouble
      ("a", java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000 + d)), y)
    } ++ (0 until 30).map { d =>
      ("b", java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000 + d)), 50.0 - d)
    }
    val got = graft.core.TimeSeries
      .perKeyTrendAnomalies(rows.toDF("k", "d", "y"), "k", $"d", "y")
      .select("k", "d", "is_anomaly").collect()
    val flagged = got.filter(_.getBoolean(2))
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay)).toSet
    assert(flagged.contains(("a", 19015L)), s"spike not flagged: $flagged")
    assert(!flagged.exists(_._1 == "b"), s"clean key flagged: $flagged")
  }

  test("densify: rows per key == (max-min).days + 1, gaps zero-filled") {
    val dense = TimeSeries.densify(daily, "HomeID", Seq("total_kwh"))
    val counts = dense.groupBy("HomeID").count().as[(String, Long)].collect().toMap
    assert(counts("h1") == 10L) // Jan 1..10
    assert(counts("h2") == 1L)
    val gap = dense.filter($"HomeID" === "h1" && $"Date" === Date.valueOf("2023-01-02")).head()
    assert(gap.getAs[Double]("total_kwh") == 0.0)
    // no duplicate days
    assert(dense.groupBy("HomeID", "Date").count().filter($"count" > 1).isEmpty)

    // the rows of the spine-join formulation, edge inputs included: a
    // NULL key (its days, values zeroed), NULL dates (dropped), NaN
    // (zeroed), a single-day key, and a repeated (key, day)
    def spineJoin(in: org.apache.spark.sql.DataFrame) = in
      .groupBy("HomeID").agg(min($"Date").as("lo"), max($"Date").as("hi"))
      .select($"HomeID", explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("Date"))
      .join(in, Seq("HomeID", "Date"), "left")
      .na.fill(0, Seq("total_kwh"))
    val d = (s: String) => Option(s).map(Date.valueOf).orNull
    val edges = daily.unionByName(Seq[(String, Date, Double, String)](
      (null, d("2023-03-01"), 7.0, "x"), (null, d("2023-03-04"), 8.0, "y"),
      (null, d("2023-03-04"), 9.0, "z"), (null, null, 1.0, "w"),
      ("h3", null, 2.0, "v"), ("h4", null, 4.0, "u"), ("h4", d("2023-04-01"), 3.0, "t"),
      ("h4", d("2023-04-03"), Double.NaN, "s"), ("h5", d("2023-05-05"), 5.0, "r"),
      ("h6", d("2023-06-01"), 1.0, "q"), ("h6", d("2023-06-01"), 2.0, "p"),
      ("h6", d("2023-06-03"), 3.0, "o")
    ).toDF("HomeID", "Date", "total_kwh", "tag"), allowMissingColumns = true)
    val got = TimeSeries.densify(edges, "HomeID", Seq("total_kwh"))
    val want = spineJoin(edges)
    assert(got.columns.toSeq == want.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want))
    assert(rows(got.filter($"HomeID".isNull)).size == 4) // Mar 1..4, once each
    assert(rows(got.filter($"HomeID" === "h6")).size == 4) // Jun 1 twice, 2, 3
  }

  test("rolling 7 mean: shrinking frame matches pandas min_periods=1") {
    val dense = TimeSeries.densify(daily, "HomeID", Seq("total_kwh"))
    val rolled = TimeSeries.rollingMean7(dense, "HomeID", "Date", "total_kwh")
      .filter($"HomeID" === "h1").orderBy("Date")
      .select("total_kwh", "rolling_7_mean").as[(Double, Double)].collect()
    // day1: mean(1)=1; day2: mean(1,0)=0.5; day3: mean(1,0,3)=4/3
    assert(rolled(0)._2 == 1.0)
    assert(rolled(1)._2 == 0.5)
    assert(math.abs(rolled(2)._2 - 4.0 / 3.0) < 1e-12)
    // day8 (0): trailing 7 days = days 2..8 -> mean(0,3,0,0,0,0,0)=3/7
    assert(math.abs(rolled(7)._2 - 3.0 / 7.0) < 1e-12)
  }

  test("weekday is Monday=0 (pandas dt.dayofweek parity)") {
    // 2023-01-02 was a Monday, 2023-01-08 a Sunday
    val df = Seq(Date.valueOf("2023-01-02"), Date.valueOf("2023-01-08")).toDF("Date")
    val dows = TimeSeries.withDow(df, "Date").orderBy("Date")
      .select("dow").as[Int].collect().toSeq
    assert(dows == Seq(0, 6))
  }

  test("approx daily rollup: totals exact, distinct within HLL error") {
    val ev = Tables.events(spark, Sf0001)
    val exact = TimeSeries.dailyRollup(ev, "user_id", to_date($"ts"), "value", "event_type")
    val approx = TimeSeries.dailyRollupApprox(ev, "user_id", to_date($"ts"), "value", "event_type")
    val joined = exact.as("e").join(approx.as("a"), Seq("user_id", "Date"))
    assert(joined.filter($"e.total_kwh" =!= $"a.total_kwh").count() == 0)
    // distinct event types per (user, day) <= 5 — HLL at 5% rsd should
    // land within +-1 at these cardinalities
    val offByMore = joined
      .filter(abs($"e.unique_appliances" - $"a.unique_appliances") > 1).count()
    assert(offByMore == 0L)
  }

  test("anomalyFeatures: composite pipeline invariants on reference-shaped data") {
    val readings = Seq(
      ("h1", "Oven", 1.5, "01-01-2023"),
      ("h1", "TV", 0.5, "01-01-2023"),
      ("h1", "Oven", 2.0, "04-01-2023")
    ).toDF("HomeID", "ApplianceType", "EnergyConsumption", "Date")
    val feats = TimeSeries.anomalyFeatures(readings, "HomeID",
      to_date($"Date", "dd-MM-yyyy"), "EnergyConsumption", "ApplianceType")
      .orderBy("Date").collect()
    assert(feats.length == 4) // Jan 1..4 dense
    val d1 = feats(0)
    assert(d1.getAs[Double]("total_kwh") == 2.0)
    assert(d1.getAs[Long]("unique_appliances") == 2L)
    assert(d1.getAs[Double]("rolling_7_mean") == 2.0)
    assert(d1.getAs[Int]("dow") == 6) // 2023-01-01 was a Sunday
    val d2 = feats(1)
    assert(d2.getAs[Double]("total_kwh") == 0.0)
    assert(d2.getAs[Long]("unique_appliances") == 0L)
  }

  test("native session_window matches lag-based sessionize, INCLUDING the " +
      "exact gap boundary (touching windows merge — diff > gap splits)") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // user 1: gaps of 30 min (same session) and 61 min (new session).
    // user 2: an exact 60-min gap — measured behavior: the native
    // window MERGES the touching event (split only at diff > gap),
    // identical to the lag-based rule. This parity is what lets q118
    // reuse q38's session CTE as its oracle verbatim.
    val ev = Seq(
      (1L, t("2024-01-01 10:00:00")), (1L, t("2024-01-01 10:30:00")),
      (1L, t("2024-01-01 11:31:00")),
      (2L, t("2024-01-01 09:00:00")), (2L, t("2024-01-01 10:00:00"))
    ).toDF("user_id", "ts")
    def sessionsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select(col("user_id"), col("n")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val native = sessionsOf(ev.groupBy(col("user_id"),
        session_window(col("ts"), "60 minutes").as("sw"))
      .agg(count(lit(1)).as("n")))
    val lagBased = sessionsOf(
      TimeSeries.sessionize(ev, "user_id", "ts", gapMinutes = 60)
        .groupBy("user_id", "session_id").agg(count(lit(1)).as("n")))
    assert(native(1L) == Seq(1L, 2L)) // 30-min pair + the 61-min straggler
    assert(native(2L) == Seq(2L))     // exact-gap event MERGES
    assert(native == lagBased)
  }

  test("funnelStages: ordered matching, strict-after, out-of-order " +
      "steps ignored, window caps the stage, step-1-less users absent") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val W = 100L
    val ev = Seq(
      // u1: clean conversion within window
      (1L, ts(10), "view"), (1L, ts(20), "click"), (1L, ts(30), "purchase"),
      // u2: purchase BEFORE click -> only stage 2
      (2L, ts(10), "view"), (2L, ts(15), "purchase"), (2L, ts(20), "click"),
      // u3: purchase beyond the window -> stage 2, t3 still reported
      (3L, ts(10), "view"), (3L, ts(20), "click"), (3L, ts(200), "purchase"),
      // u4: click in the SAME second as view -> strict-after excludes
      // it; the later click counts
      (4L, ts(10), "view"), (4L, ts(10), "click"), (4L, ts(40), "click"),
      // u5: no view at all -> absent from output
      (5L, ts(10), "click"), (5L, ts(20), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val got = TimeSeries.funnelStages(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowSec = W)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 10L, 20L, 30L),
      (2L, 2L, 10L, 20L, -1L),  // the pre-click purchase never matches
      (3L, 2L, 10L, 20L, 200L),
      (4L, 2L, 10L, 40L, -1L)), s"got $got")
  }

  test("cohortRetention: ISO-week cohorts, offset grid, pre-signup " +
      "activity excluded, signup-less users absent") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 12:00:00")
    // 2024-01-01 is a Monday; weeks 0/1/2 = Jan 1 / Jan 8 / Jan 15
    val ev = Seq(
      (1L, ts("2024-01-02"), "signup"), // cohort week0 (Tue -> Mon)
      (1L, ts("2024-01-16"), "view"),   // week2 -> offset 2
      (2L, ts("2024-01-03"), "signup"), // cohort week0
      (2L, ts("2023-12-28"), "view"),   // PRE-cohort: excluded
      (3L, ts("2024-01-10"), "signup"), // cohort week1
      (3L, ts("2024-01-17"), "click"),  // offset 1
      (4L, ts("2024-01-05"), "view"))   // never signs up: absent
      .toDF("user_id", "ts", "event_type")
    val got = TimeSeries.cohortRetention(ev, "user_id", "ts",
        "event_type", "signup")
      .as[(java.sql.Date, Long, Long)].collect()
      .map(r => (r._1.toString, r._2, r._3)).sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("2024-01-01", 0L, 2L),  // u1+u2 active in their signup week
      ("2024-01-01", 2L, 1L),  // u1 returns two weeks later
      ("2024-01-08", 0L, 1L),  // u3 signup week
      ("2024-01-08", 1L, 1L)), // u3 returns next week
      s"got $got")
  }

  test("session paths (q141 shape): first-5 truncation, session " +
      "splits, count-then-path rank tie-break") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val H = 3600L
    val ev = Seq(
      // u1 session 1: view>click ; session 2 (2h later): view>click
      (1L, 10L, ts(0), "view"), (1L, 11L, ts(60), "click"),
      (1L, 12L, ts(2 * H + 100), "view"), (1L, 13L, ts(2 * H + 160), "click"),
      // u2 one 7-event session: truncates to first 5
      (2L, 20L, ts(0), "view"), (2L, 21L, ts(1), "view"),
      (2L, 22L, ts(2), "click"), (2L, 23L, ts(3), "view"),
      (2L, 24L, ts(4), "purchase"), (2L, 25L, ts(5), "error"),
      (2L, 26L, ts(6), "view"),
      // u3: single-event session -> path "signup"
      (3L, 30L, ts(0), "signup"))
      .toDF("user_id", "event_id", "ts", "event_type")
    // the gate query reads Tables.events(dir); pin the same
    // composition directly on the hand-built frame
    import org.apache.spark.sql.expressions.Window
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
    val counts = paths.groupBy("path").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(counts == Map(
      "view>click" -> 2L,                      // u1's two sessions
      "view>view>click>view>purchase" -> 1L,   // u2 truncated at 5
      "signup" -> 1L))
  }

  test("exact rank percentiles (q142 shape): ceil(p*n) selection, " +
      "ties pick the well-defined sorted value") {
    import org.apache.spark.sql.expressions.Window
    val df = ((1 to 10).map(v => ("a", v.toDouble)) ++
      Seq(("b", 1.0), ("b", 5.0), ("b", 5.0), ("b", 5.0)))
      .toDF("event_type", "value")
    val w = Window.partitionBy("event_type").orderBy("value")
    val wc = Window.partitionBy("event_type")
    val got = df.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wc))
      .groupBy("event_type")
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.5), col("value"))).as("p50"),
        max(when(col("rn") === ceil(col("n") * 0.95), col("value"))).as("p95"))
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    // a: n=10 -> p50 = 5th value = 5.0, p95 = ceil(9.5)=10th = 10.0
    // b: n=4 sorted [1,5,5,5] -> p50 = 2nd = 5.0 (tie-safe), p95 = 4th = 5.0
    assert(got == Seq(("a", 5.0, 10.0), ("b", 5.0, 5.0)))
  }

  test("CUSUM changepoint (q143 shape): level shift lands on the " +
      "pre-jump boundary, symmetric tie takes the earliest day") {
    import org.apache.spark.sql.expressions.Window
    def cusum(vs: Seq[Long]) = {
      val df = vs.zipWithIndex
        .map { case (v, i) => (java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), v) }
        .toDF("d", "v")
      val wOrd = Window.orderBy("d")
      val wAll = Window.partitionBy(lit(1))
      df.withColumn("cum",
          sum("v").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("idx", row_number().over(wOrd).cast("long"))
        .withColumn("total", sum("v").over(wAll))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("t_abs", abs(col("n") * col("cum") - col("total") * col("idx")))
        .orderBy(abs(col("t_abs")).desc, col("d").asc)
        .select("d", "t_abs").as[(java.sql.Date, Long)].head()
    }
    // [1,1,1,10,10,10]: total 33, T = 6*cum-33*d =
    // [-27,-54,-81,-54,-27,0] -> day 3 (the pre-jump boundary), |T| 81
    val (d1, t1) = cusum(Seq(1L, 1L, 1L, 10L, 10L, 10L))
    assert(d1.toString == "2024-01-03" && t1 == 81L)
    // symmetric [1,3,1]: |T| = [2,2,0] -> tie resolves to day 1
    val (d2, t2) = cusum(Seq(1L, 3L, 1L))
    assert(d2.toString == "2024-01-01" && t2 == 2L)
  }

  test("MAD outliers (q145 shape): median and MAD immune to the " +
      "outlier, z-score-style mean would not be") {
    import org.apache.spark.sql.expressions.Window
    // [1,2,3,4,1000]: median = 3, deviations [2,1,0,1,997] sorted
    // [0,1,1,2,997] -> MAD = value at ceil(2.5)=3rd = 1;
    // outliers: ad > 3 -> only 1000 (ad 997)
    val df = Seq(1.0, 2.0, 3.0, 4.0, 1000.0).map(("a", _))
      .toDF("event_type", "value")
    val w1 = Window.partitionBy("event_type").orderBy("value")
    val wc = Window.partitionBy("event_type")
    val med = df.withColumn("rn", row_number().over(w1).cast("long"))
      .withColumn("n", count(lit(1)).over(wc))
      .groupBy("event_type")
      .agg(max(when(col("rn") === ceil(col("n") * 0.5), col("value")))
        .as("med"), max(col("n")).as("n"))
    val dev = df.join(med, "event_type")
      .withColumn("ad", abs(col("value") - col("med")))
    val w2 = Window.partitionBy("event_type").orderBy("ad")
    val mad = dev.withColumn("rn2", row_number().over(w2).cast("long"))
      .groupBy("event_type")
      .agg(max(when(col("rn2") === ceil(col("n") * 0.5), col("ad"))).as("mad"))
    val got = dev.join(mad, "event_type")
      .groupBy("event_type")
      .agg(max("med").as("med"), max("mad").as("mad"),
        sum(when(col("ad") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .as[(String, Double, Double, Long)].head()
    assert(got == (("a", 3.0, 1.0, 1L)))
  }

  test("last-touch attribution (q147 shape): latest touch wins, " +
      "same-ts tie by max event_id, lookback and no-touch -> direct") {
    import java.sql.Timestamp
    import graft.core.Joins
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      // u1: view then click then purchase -> credits click
      (1L, 1L, ts(10), "view"), (2L, 1L, ts(20), "click"),
      (3L, 1L, ts(30), "purchase"),
      // u2: touch 2 days before purchase -> direct
      (4L, 2L, ts(0), "view"), (5L, 2L, ts(200000), "purchase"),
      // u3: no touch at all -> direct
      (6L, 3L, ts(10), "purchase"),
      // u4: two touches at the SAME ts -> max event_id (error) wins
      (7L, 4L, ts(10), "view"), (8L, 4L, ts(10), "error"),
      (9L, 4L, ts(15), "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val touches = ev.filter($"event_type" =!= "purchase")
      .groupBy($"user_id".as("t_user"), $"ts".as("touch_ts"))
      .agg(expr("max_by(event_type, event_id)").as("touch_type"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val att = Joins.asofBackward(purchases, touches,
        leftKey = "user_id", rightKey = "t_user",
        leftTs = col("ts"), rightTs = col("touch_ts"),
        valueCols = Seq("touch_type", "touch_ts"))
      .withColumn("channel",
        when(col("touch_ts").isNull ||
          col("ts").cast("timestamp").cast("long")
            - col("touch_ts").cast("timestamp").cast("long") > 86400L,
          lit("direct")).otherwise(col("touch_type")))
      .select("event_id", "channel")
      .as[(Long, String)].collect().toMap
    assert(att == Map(3L -> "click", 5L -> "direct", 6L -> "direct",
      9L -> "error"))
  }

  test("ewma: exact integer recursion, keys independent, partition-invariant") {
    // alpha 1/8: s1=8; s2=(16+7*8) DIV 8 = 9; s3=(80+7*9) DIV 8 = 17
    val df = Seq(("a", 1L, 8L), ("a", 2L, 16L), ("a", 3L, 80L),
      ("b", 1L, 100L), ("b", 2L, 100L)).toDF("k", "o", "x")
    val got = TimeSeries.ewma(df, "k", "o", "x", 1, 8)
      .select("k", "o", "x", "ewma")
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("a", 1L, 8L, 8L), ("a", 2L, 16L, 9L), ("a", 3L, 80L, 17L),
      ("b", 1L, 100L, 100L), ("b", 2L, 100L, 100L))) // constant fixed point
    val repart = TimeSeries.ewma(df.repartition(5), "k", "o", "x", 1, 8)
      .select("k", "o", "x", "ewma")
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(repart == got)
  }

  test("acf: alternating series hand values, constant series drops out") {
    // xs = [1,-1,1,-1]: m=0, den=4; lag1 = -3/4, lag2 = 2/4,
    // lag3 = -1/4; 'flat' has den 0 -> no rows
    val df = Seq(("alt", 1L, 1.0), ("alt", 2L, -1.0), ("alt", 3L, 1.0),
      ("alt", 4L, -1.0), ("flat", 1L, 5.0), ("flat", 2L, 5.0))
      .toDF("k", "o", "x")
    val got = TimeSeries.acf(df, "k", "o", "x", maxLag = 3)
      .select("k", "lag", "n_obs", "acf")
      .as[(String, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
      .toSeq
    assert(got == Seq(("alt", 1L, 4L, -0.75), ("alt", 2L, 4L, 0.5),
      ("alt", 3L, 4L, -0.25)))
    val repart = TimeSeries.acf(df.repartition(5), "k", "o", "x", 3)
      .select("k", "lag", "n_obs", "acf")
      .as[(String, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
      .toSeq
    assert(repart == got)
  }

  test("dispersion index: Poisson-like ~1, constant ~0, bursty >> 1") {
    def vmr(xs: Seq[Long]): Double = {
      val df = xs.map(("t", _)).toDF("k", "x")
      df.groupBy("k")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(expr("x * x")).as("ssq"))
        .select(expr(
          """CAST(n * ssq - s * s AS DOUBLE)
            |/ (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))""".stripMargin))
        .as[Double].head()
    }
    assert(vmr(Seq.fill(100)(7L)) == 0.0)              // constant
    val bursty = Seq.fill(99)(0L) :+ 700L              // one spike
    assert(vmr(bursty) > 100.0)
    // var == mean exactly: xs = {0,2} repeated -> mean 1, var 1
    assert(math.abs(vmr(Seq.tabulate(100)(i => (i % 2) * 2L)) - 1.0) < 1e-9)
  }

  test("winsorized stats: boundaries, trimmed and clamped sums (n=20, t=1)") {
    // values 0..19 in one group: lo = rank-2 value 1, hi = rank-19
    // value 18; trimmed sum = 1+...+18 = 171; winsor = 171 + 1*(1+18)
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("v", "id")
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val ranked = (0L until 20L).map(i => ("a", i, i)).toDF("g", "id", "v")
      .withColumn("r", row_number().over(wR).cast("long"))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("t", expr("n DIV 20"))
    val got = ranked.groupBy("g").agg(
        max("n").as("n"), max("t").as("n_tail"),
        max(when(col("r") === col("t") + 1, col("v"))).as("lo"),
        max(when(col("r") === col("n") - col("t"), col("v"))).as("hi"),
        sum(when(col("r") > col("t") && col("r") <= col("n") - col("t"),
          col("v")).otherwise(0L)).as("trimmed"))
      .withColumn("winsor", expr("trimmed + n_tail * (lo + hi)"))
      .select("n", "n_tail", "lo", "hi", "trimmed", "winsor")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(got == ((20L, 1L, 1L, 18L, 171L, 190L)))
  }

  test("burstDays: spike over a flat window bursts, warm-up doesn't judge") {
    // key k: 7 flat days of 2 events, then a 10-event spike on day 8,
    // then a mild 3-event day 9 (7*3-14=7 > 0 but 49 <= 4*(7*(28+100)
    // - 26*26) once the spike enters the window -> variance kills it)
    def rows(day: Int, n: Int) = Seq.fill(n)(("k", Date.valueOf(f"2024-01-${day}%02d")))
    val ev = ((1 to 7).flatMap(rows(_, 2)) ++ rows(8, 10) ++ rows(9, 3))
      .toDF("key", "d")
    val got = TimeSeries.burstDays(ev, "key", col("d"))
      .select("d", "cnt", "s7", "lift_micro")
      .as[(Date, Long, Long, Long)].collect().toSeq
    // only day 8 bursts: 7*10-14 = 56 > 0 and 56^2 > 4*(7*28-196) = 0.
    // days 1-7 are warm-up (fewer than 7 prior observations)
    assert(got == Seq((Date.valueOf("2024-01-08"), 10L, 14L, 4000000L)))
    // partition invariance: the windows run per key over the daily series
    val again = TimeSeries.burstDays(ev.repartition(7), "key", col("d"))
      .select("d", "cnt", "s7", "lift_micro")
      .as[(Date, Long, Long, Long)].collect().toSeq
    assert(again == got)
  }

  test("burstDays: natural variance raises the bar") {
    // alternating 1/5 days (mean 3, high variance), then a 6-day:
    // S = 1+5+1+5+1+5+1 = 19, Q = 1+25+1+25+1+25+1 = 79,
    // excess = 42-19 = 23, 23^2 = 529 <= 4*(7*79-361) = 768 -> NOT
    // a burst; the same +3-over-mean WOULD burst over a flat window
    def rows(day: Int, n: Int) = Seq.fill(n)(("k", Date.valueOf(f"2024-02-${day}%02d")))
    val ev = ((1 to 7).flatMap(d => rows(d, if (d % 2 == 1) 1 else 5)) ++
      rows(8, 6)).toDF("key", "d")
    assert(TimeSeries.burstDays(ev, "key", col("d")).count() == 0L)
  }

  test("rollingMedian: outlier-immune where the mean is not; odd only") {
    def d(day: Int) = Date.valueOf(f"2024-03-${day}%02d")
    // six 1-event days then a 100-event day: the 7-day median stays 1
    val ev = ((1 to 6).map(day => ("k", d(day), 1)) :+ (("k", d(7), 100)))
      .flatMap { case (k, dt, n) => Seq.fill(n)((k, dt)) }
      .toDF("key", "d")
    val got = TimeSeries.rollingMedian(ev, "key", col("d"), window = 7)
      .select("d", "cnt", "med").as[(Date, Long, Long)].collect()
    assert(got.length == 1, "only one full window in 7 days")
    assert(got.head._2 == 100L && got.head._3 == 1L,
      s"median must shrug the outlier off: ${got.head}")
    intercept[IllegalArgumentException](
      TimeSeries.rollingMedian(ev, "key", col("d"), window = 4))
  }

  test("theilSenTrend: median slope shrugs the outlier day off") {
    def d(day: Int) = Date.valueOf(f"2024-03-${day}%02d")
    // counts 1,2,3,4 then a 100-event burst day: 6 of the 10 pairwise
    // slopes are exactly 1/day, so the median slope is 1 — OLS would
    // be dragged far above it by the burst
    val ev = (Seq((1, 1), (2, 2), (3, 3), (4, 4), (5, 100))
      .flatMap { case (day, n) => Seq.fill(n)(("k", d(day))) } ++
      Seq(("solo", d(1)))) // one active day -> no pairs -> dropped
      .toDF("key", "dd")
    val got = TimeSeries.theilSenTrend(ev, "key", col("dd"))
      .as[(String, Long, Long, Long)].collect().toList
    assert(got == List(("k", 5L, 10L, 1000000L)), s"$got")
  }

  test("horizonLabels: strict same-day exclusion, horizon cut, gaps") {
    // user 1: purchase on day 4 only. Active days 1 (gap 3 -> label 1),
    // 4 (same day excluded; no LATER purchase -> 0), 30 (nothing ahead).
    // user 2: purchase on day 20; active day 1 is 19 days out -> 0
    // under horizon 14, but days_to_target stays NULL (beyond cut).
    def d(day: Int) = Date.valueOf(f"2024-03-${day}%02d")
    val ev = Seq(
      (1L, d(1), "view"), (1L, d(4), "purchase"), (1L, d(30), "view"),
      (2L, d(1), "view"), (2L, d(20), "purchase"))
      .toDF("user_id", "d", "event_type")
    val got = TimeSeries.horizonLabels(ev, "user_id", col("d"),
        col("event_type") === "purchase", horizonDays = 14)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) ->
        (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got((1L, "2024-03-01")) == ((1L, 3L)), s"$got")
    assert(got((1L, "2024-03-04")) == ((0L, -1L)), "same-day must not leak")
    assert(got((1L, "2024-03-30")) == ((0L, -1L)))
    assert(got((2L, "2024-03-01")) == ((0L, -1L)), "beyond horizon")
    assert(got((2L, "2024-03-20")) == ((0L, -1L)))
  }

  test("stlDecompose: flat series decomposes to zero seasonal/remainder") {
    // 14 days x constant 3 events: trend = 3 (full windows only),
    // seasonal = 0 every weekday, remainder = 0; first/last 3 days NULL
    def d(day: Int) = Date.valueOf(f"2024-03-${day}%02d")
    val ev = (1 to 14).flatMap(day => Seq.fill(3)(("k", d(day))))
      .toDF("key", "d")
    val got = TimeSeries.stlDecompose(ev, "key", col("d"))
      .orderBy("d").collect()
    assert(got.length == 14)
    val (edge, full) = got.partition(r => r.isNullAt(3))
    assert(edge.length == 6, "3 leading + 3 trailing NULL-trend days")
    assert(full.forall(r => r.getLong(3) == 3000000L
      && r.getLong(4) == 0L && r.getLong(5) == 0L),
      full.map(r => (r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
        .toString)
    // additivity on full-window days: trend + seasonal + remainder
    // reconstructs cnt x 1e6 up to the documented per-term rounding
    val recon = full.map(r =>
      math.abs(r.getLong(3) + r.getLong(4) + r.getLong(5)
        - r.getLong(2) * 1000000L))
    assert(recon.forall(_ <= 2L), recon.toSeq.toString)
  }
}
