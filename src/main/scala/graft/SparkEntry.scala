package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle in `oracleSql`.
  *
  * The energy-domain operators (EnergyAnalytics / TimeSeries) are
  * exercised here over the driver's `events` table (user_id ~ HomeID,
  * event_type ~ ApplianceType, value ~ EnergyConsumption, ts ~ Date) —
  * same operator, same plan shape, oracle-checkable data. The
  * training-data-pipeline operators (Dedup / TextAnalysis / Similarity)
  * run over `documents` and `embeddings`.
  *
  * Output discipline (driver hashes values after sorting columns by
  * name): every aggregate/computed column is aliased identically on
  * both sides; doubles are rounded at the final projection only;
  * integer-ish outputs are cast to BIGINT to match DuckDB's types;
  * dates are true DATE on both sides.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 — the reference's richest pipeline
    * (EP3 anomaly features: rollup -> densify -> rolling window -> dow)
    * as one Catalyst DAG. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    anomalyFeatures(spark, "/root/testdata/sf0.001")

  private def anomalyFeatures(s: SparkSession, dir: String): DataFrame = {
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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- 2.2 projections / filters / 2.4 aggregations ----------------

    // A1/A6 family: TPC-H-Q1-shaped pricing summary (multi-agg group-by)
    "q01_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // P1/P5/P8: projection + equality filter + date-range filter,
    // all pushed into the parquet scan by Catalyst
    "q02_filter_project" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderstatus") === lit("O")
          && to_date(col("o_orderdate")).between("1995-01-01", "1997-12-31")
          && col("o_totalprice") > 1000.0)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          to_date(col("o_orderdate")).as("o_orderdate"))
    }),

    // J1 at star-schema shape: fact ⋈ broadcast dims, grouped rollup
    "q03_region_revenue" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // O1: top-K by aggregate (TakeOrderedAndProject — no global sort)
    "q04_topk_parts" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_partkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), asc("l_partkey"))
        .limit(5)
    }),

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

    // U1: vertical union of two filtered projections
    "q10_union" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value"),
          lit("buy").as("tag"))
      val b = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value"),
          lit("err").as("tag"))
      a.unionByName(b)
    }),

    // P9/A9: declarative good/bad split with counts (ingest validation).
    // from_json with an explicit schema, NOT get_json_object: the
    // schema'd parse is a single Jackson pass straight into an
    // UnsafeRow, while get_json_object re-tokenizes the document per
    // path access — the r03 bench flagged this query at 5s cold
    // (see PLANS.md "q11 spike").
    "q11_validate_split" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k string"))
            .getField("k").try_cast("long"))
      val valid = col("value").isNotNull && col("k").isNotNull && col("k") >= 10
      ev.groupBy(when(valid, "good").otherwise("bad").as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
    }),

    // F2/F3: null-on-error cast semantics (try_cast parity)
    "q12_casts" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          col("lang").try_cast("double").as("lang_as_double"),
          col("n_chars").try_cast("double").as("chars_as_double"),
          substring(col("text"), 1, 3).try_cast("int").cast("long").as("prefix_as_int"))
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

    // ---- dedup pack --------------------------------------------------

    "q17_dedup_exact_keep" -> ((s, dir) => {
      Dedup.dropExactDups(Tables.documents(s, dir), "doc_id", "text")
        .select("doc_id", "lang", "n_chars")
    }),

    "q18_dedup_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
    }),

    "q19_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.2)
    }),

    "q20_minhash_lsh" -> ((s, dir) => {
      Dedup.lshCandidates(Tables.documents(s, dir), "doc_id", "text",
        k = 8, rowsPerBand = 2, n = 3, minEstJaccard = 0.25)
    }),

    "q21_simhash" -> ((s, dir) => {
      Dedup.simhashTable(Tables.documents(s, dir), "doc_id", "text")
    }),

    // ---- text analysis pack ------------------------------------------

    "q22_token_stats" -> ((s, dir) => {
      TextAnalysis.qualityScore(
        TextAnalysis.tokenStats(Tables.documents(s, dir), "text"), "text")
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_tokens_bpeish").cast("long").as("n_tokens_bpeish"),
          col("n_chars").cast("long").as("n_chars"),
          round(col("mean_token_len"), 4).as("mean_token_len"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("alpha_ratio"), 6).as("alpha_ratio"))
    }),

    "q23_langid" -> ((s, dir) => {
      TextAnalysis.langId(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("lang_pred"),
          col("score_en").cast("long").as("score_en"),
          col("score_es").cast("long").as("score_es"),
          col("score_de").cast("long").as("score_de"),
          col("score_fr").cast("long").as("score_fr"))
    }),

    "q24_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprint(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("fingerprint"))
    }),

    // ---- similarity pack ---------------------------------------------

    "q25_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopK(emb.filter(col("vec_id") < 8), emb, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

    // native VectorSum aggregate (one group per label pre-shuffle);
    // the posexplode formulation is its semantic oracle in
    // SimilaritySpec, and DuckDB pins both here
    "q26_label_centroids" -> ((s, dir) => {
      Similarity.labelCentroidsNative(Tables.embeddings(s, dir))
        .select(col("label").cast("long").as("label"),
          col("dim").cast("long").as("dim"),
          round(col("mean_v"), 6).as("mean_v"),
          col("n"))
    }),

    // IVF ANN — approximate RELATIVE TO exact top-k (recall asserted
    // in SimilaritySpec), but fully DETERMINISTIC as an algorithm:
    // fixed centroids (vec_id % 97 = 3), fixed probe order, exact
    // within-probe ranking. So the whole pipeline is oracle-able by
    // replaying assignment + probing + ranking relationally (the q49
    // pattern extended end-to-end).
    "q27_ivf_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.ivfTopK(emb.filter(col("vec_id") < 8), emb, centroids,
        k = 5, nProbe = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

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

    // ---- engine-completeness pack (beyond the reference's surface) ---

    // O2/O3: multi-key sort with mixed direction + limit
    "q30_sort" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          to_date(col("o_orderdate")).as("d"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)
    }),

    // grouping sets via CUBE: (type x dow) with subtotals and total
    "q31_cube" -> ((s, dir) => {
      Tables.events(s, dir)
        .cube(col("event_type"), weekday(to_date(col("ts"))).cast("long").as("dow"))
        .agg(round(sum("value"), 2).as("total"), count(lit(1)).as("n"))
    }),

    // semi + anti joins (EXISTS / NOT EXISTS)
    "q32_semi_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 50000.0)
      val withBig = c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_big").as("tag"))
      val without = c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_big").as("tag"))
      withBig.unionByName(without)
    }),

    // ranking + lead/lag: top-2 purchases per user with gap to previous
    "q33_rank_lag" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).filter(col("event_type") === "purchase")
      val w = Window.partitionBy("user_id").orderBy(desc("value"), asc("event_id"))
      ev.withColumn("rnk", row_number().over(w))
        .withColumn("prev_value", lag("value", 1).over(w))
        .filter(col("rnk") <= 2)
        .select(col("user_id"), col("rnk").cast("long").as("rnk"),
          col("event_id"), round(col("value"), 2).as("value"),
          round(col("prev_value"), 2).as("prev_value"))
    }),

    // exact percentiles (median / p90, linear interpolation)
    "q34_percentiles" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"))
    }),

    // pivot: per-dow totals, one column per event type
    "q35_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(weekday(to_date(col("ts"))).cast("long").as("dow"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum("value"), 2))
    }),

    // distinct key enumeration (A10)
    "q36_distinct" -> ((s, dir) => {
      Tables.events(s, dir).select("user_id", "event_type").distinct()
    }),

    // the SAME as-of semantics through the custom plan node
    // (AsofJoin LogicalPlan -> AsofJoinStrategy -> AsofJoinExec
    // sort-merge): DuckDB's native ASOF JOIN oracle now checks the
    // custom physical operator directly
    "q48_asof_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val o = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_totalprice").as("best_price"))
      Joins.asofBackwardNative(
        ev.select(col("event_id"), col("user_id"), col("ts")), o,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = col("ts"), rightTs = col("o_orderdate"),
        valueCols = Seq("o_orderdate", "best_price"))
        .select(col("event_id"), col("user_id"),
          to_date(col("ts")).as("d"),
          to_date(col("o_orderdate")).as("order_d"),
          round(col("best_price"), 2).as("best_price"))
    }),

    // set operations: INTERSECT / EXCEPT (beyond the reference's U1)
    "q44_setops" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val buyers = ev.filter(col("event_type") === "purchase").select("user_id")
      val errorers = ev.filter(col("event_type") === "error").select("user_id")
      val both = buyers.intersect(errorers).withColumn("tag", lit("both"))
      val buyOnly = buyers.except(errorers).withColumn("tag", lit("buy_only"))
      both.unionByName(buyOnly)
    }),

    // scalar-function sampler: string / conditional / math surface
    "q45_scalars" -> ((s, dir) => {
      Tables.part(s, dir).select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
        lower(col("p_brand")).as("brand_lower"),
        length(trim(col("p_type"))).cast("long").as("type_len"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_padded"),
        concat_ws("-", col("p_brand"), col("p_size")).as("brand_size"),
        when(col("p_retailprice") > 1500, "premium")
          .when(col("p_retailprice") > 1000, "standard")
          .otherwise("budget").as("tier"),
        coalesce(nullif(col("p_type"), lit("")), lit("unknown")).as("type_or_unknown"),
        round(sqrt(abs(col("p_retailprice"))), 4).as("sqrt_price"),
        round(pow(col("p_size").cast("double"), 2.0), 1).as("size_sq"),
        floor(col("p_retailprice") / 100).cast("long").as("price_bucket"),
        round(exp(col("p_size") / lit(25.0)), 6).as("exp_size"))
    }),

    // array + JSON scalar surface
    "q46_arrays_json" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_v"),
        round(array_max(col("embedding")).cast("double"), 6).as("max_v"),
        round(array_min(col("embedding")).cast("double"), 6).as("min_v"),
        round(element_at(array_sort(col("embedding")), 2).cast("double"), 6).as("second_smallest"))
      val ev = Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").try_cast("long").as("k"))
        .groupBy()
        .agg(count(lit(1)).as("n"), sum("k").as("k_sum"),
          round(avg("k"), 4).as("k_avg"))
        .withColumn("vec_id", lit(-1L))
      emb.join(ev, Seq("vec_id"), "full_outer")
    }),

    // datetime function pack
    "q47_datetime" -> ((s, dir) => {
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        last_day(col("o_orderdate")).as("month_end"),
        date_add(to_date(col("o_orderdate")), 30).as("plus30"),
        datediff(lit("1998-12-31").cast("date"), to_date(col("o_orderdate")))
          .cast("long").as("days_to_eoy"))
        .filter(col("o_orderkey") % 10 === 0)
    }),

    // full dedup resolution: near-dup pairs -> connected components ->
    // survivor per cluster (iterative min-label propagation; the
    // oracle computes the same closure with a recursive CTE)
    "q43_dedup_resolve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      Dedup.resolveSurvivors(docs, "doc_id", pairs)
        .select(col("doc_id"), col("survivor_id"), col("is_survivor"))
    }),

    // backward as-of join (composed: tag+union+window — SURVEY custom-
    // operator preference (a)): each event picks the most recent order
    // of the same customer at or before its timestamp
    "q42_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val o = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_totalprice").as("best_price"))
      Joins.asofBackward(
        ev.select(col("event_id"), col("user_id"), col("ts")), o,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = col("ts"), rightTs = col("o_orderdate"),
        valueCols = Seq("o_orderdate", "best_price"))
        .select(col("event_id"), col("user_id"),
          to_date(col("ts")).as("d"),
          to_date(col("o_orderdate")).as("order_d"),
          round(col("best_price"), 2).as("best_price"))
    }),

    // TF-IDF: top-3 terms per doc. Ranked on INTEGERS (tf desc, term
    // asc) so cross-engine float rounding can't flip ranks; the float
    // score is display-only, rounded.
    "q41_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis.tfidf(Tables.documents(s, dir), "doc_id", "text")
      val w = Window.partitionBy("doc_id").orderBy(desc("tf"), asc("term"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("term"),
          col("tf"), round(col("score"), 6).as("score"))
    }),

    // embedding-cosine near-dup, exact O(n^2) baseline (oracle-checked)
    "q39_cosine_neardup" -> ((s, dir) => {
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), threshold = 0.4)
    }),

    // multi-table hyperplane-LSH near-dup. Recall vs the exact variant
    // is probabilistic (asserted in SimilaritySpec), but the PIPELINE
    // is deterministic for fixed planes: the gate pins 8 bits x 4
    // tables of literal hyperplanes (q50's two tables plus two more
    // from the same planeComponent stream) so the oracle can replay
    // candidate generation AND the cosine-verify filter end-to-end.
    // (The corpus-auto-sized and multi-probe variants stay
    // spec-covered.)
    "q40_lsh_neardup" -> ((s, dir) => {
      Similarity.lshNearDupPairs(Tables.embeddings(s, dir), threshold = 0.4,
        bitsPerTable = 8, nTables = 4)
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

    // multimodal plumbing, oracle-checkable slice: treat text bytes as
    // an opaque payload and extract chunked-fingerprint features —
    // the same shape Multimodal.extractFeatures emits for binary
    // payloads (its codec stub is exercised in MultimodalSpec)
    "q37_chunk_features" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val chunkLen = greatest(floor(length(col("text")) / 4).cast("int"), lit(1))
      val feats = transform(sequence(lit(0), lit(3)),
        i => TextAnalysis.rollingHash(col("text").substr(i * chunkLen + 1, chunkLen)))
      d.select(col("doc_id"), posexplode(feats).as(Seq("dim", "feature")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("feature"))
    }),

    // deterministic prefix of the IVF ANN pipeline (q27): coarse
    // quantization — every vector's nearest centroid. Fully
    // oracle-checkable even though the end-to-end ANN is approximate.
    "q49_ivf_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.assignBuckets(emb, centroids)
        .select(col("vec_id"), col("bucket"))
    }),

    // deterministic prefix of the LSH near-dup pipeline (q40):
    // hyperplane-bucket candidate pairs for fixed bits/tables — the
    // literal planes make the bucketing engine-portable.
    "q50_lsh_candidates" -> ((s, dir) => {
      Similarity.lshCandidatePairs(Tables.embeddings(s, dir),
        bitsPerTable = 8, nTables = 2)
    }),

    // composed corpus-curation pipeline: quality gate -> exact dedup ->
    // near-dup resolution, emitted as a per-doc audit. Every stage is
    // separately oracle-checked (q22/q23/q17/q19/q43); this checks the
    // COMPOSITION end-to-end.
    "q51_curation" -> ((s, dir) => {
      graft.core.Curation.curate(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang_pred"), col("quality_score"),
          col("quality_ok"), col("kept_exact"),
          col("survivor_id"), col("is_survivor"))
    }),

    // benchmark decontamination: training docs sharing any 5-gram with
    // the held-out eval slice (doc_id % 10 == 0) are flagged. The eval
    // shingle set broadcasts; the training side never shuffles payloads.
    "q52_decontaminate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val eval = d.filter(col("doc_id") % 10 === 0)
      val train = d.filter(col("doc_id") % 10 =!= 0)
      graft.core.Decontaminate.flagContaminated(train, eval, "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_hits"), col("contaminated"))
    }),

    // SPAN-level decontamination: the q302 rewrite with the EVAL
    // suite as the duplicate source — training tokens inside any
    // eval-matching 5-gram window drop, the doc re-emits from its
    // survivors (doc-level q52 discards whole documents; this
    // salvages the clean remainder)
    "q318_decontam_scrub" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.core.Decontaminate.scrubSpans(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 5)
    }),

    // INCREMENTAL doc-level decontamination over the persisted
    // eval-shingle index (the q311/q102 discipline for eval-suite
    // state): the suite arrives as two versions (doc_id % 20 == 0,
    // then % 20 == 10) — each append probes the training corpus
    // against ONLY the keys it newly added, and the folded per-doc
    // deltas must land exactly on the monolithic q52 result over the
    // union suite (the oracle replays q52's SQL verbatim)
    "q319_decontam_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val train = d.filter(col("doc_id") % 10 =!= 0)
      val t = scratchDir("graft_q319") + "/idx"
      val d1 = graft.core.Decontaminate.flagContaminatedIncremental(
        s, train, d.filter(col("doc_id") % 20 === 0), t,
        "doc_id", "text", n = 5)
        .withColumnRenamed("n_hits_delta", "h1")
      val d2 = graft.core.Decontaminate.flagContaminatedIncremental(
        s, train, d.filter(col("doc_id") % 20 === 10), t,
        "doc_id", "text", n = 5)
        .withColumnRenamed("n_hits_delta", "h2")
      train.select(col("doc_id"))
        .join(d1, Seq("doc_id"), "left")
        .join(d2, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (coalesce(col("h1"), lit(0L)) + coalesce(col("h2"), lit(0L)))
            .as("n_hits"))
        .withColumn("contaminated", col("n_hits") >= 1L)
    }),

    // INCREMENTAL span-level decontamination over the same persisted
    // index: version 1 scrubs via the index (scrubSpansIndexed),
    // version 2 re-scrubs ONLY the training docs holding a key the
    // append newly added; folding (replace-by-id) must equal the
    // monolithic q318 rewrite over the union suite
    "q320_decontam_scrub_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val train = d.filter(col("doc_id") % 10 =!= 0)
      val t = scratchDir("graft_q320") + "/idx"
      graft.core.Decontaminate.writeEvalShingleIndex(
        d.filter(col("doc_id") % 20 === 0), "doc_id", "text", t, n = 5)
      val base = graft.core.Decontaminate.scrubSpansIndexed(
        s, train, t, "doc_id", "text", n = 5)
      val delta = graft.core.Decontaminate.scrubSpansIncremental(
        s, train, d.filter(col("doc_id") % 20 === 10), t,
        "doc_id", "text", n = 5)
      base.join(delta.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(delta)
    }),

    // bloom-prefiltered decontamination — the 100 TB shape of q52:
    // eval shingles build a relational bloom (portable double-hash,
    // bit_or words, model-size broadcast), train shingles die at the
    // bit test, only candidates reach the exact verify join. No false
    // negatives, so flags == q52's exact path; n_candidates pins the
    // pre-filter's measured selectivity relationally
    "q315_bloom_decontam" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.core.Decontaminate.flagContaminatedBloom(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 5, minHits = 1,
        numBits = 1 << 18, numHashes = 4)
    }),

    // Gopher-style repetition stats: duplicate-token fraction plus the
    // token share covered by the most frequent bigram
    "q53_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text", n = 2)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("dup_token_ratio"), col("top_ngram_count"), col("top_ngram_ratio"))
    }),

    // PII scrubbing: redact + count emails/phones/id runs. Test PII is
    // derived deterministically from doc_id IN the query (both engines
    // build the identical augmented text), so the oracle exercises real
    // redactions, not just the no-op path.
    "q54_pii_scrub" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val aug = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call "),
            (col("doc_id") % 700 + 200).cast("string"), lit("-"),
            (col("doc_id") % 800 + 100).cast("string"), lit("-"),
            (col("doc_id") % 9000 + 1000).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" acct "),
            (col("doc_id") + 100000000L).cast("string"))).otherwise(lit("")))
      TextAnalysis.scrubPii(d.withColumn("aug_text", aug), "aug_text")
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_ids").cast("long").as("n_ids"), col("scrubbed"))
    }),

    // per-source quota (corpus balancing): keep the 15 lowest-id docs
    // per source, emit the full audit
    "q55_source_quota" -> ((s, dir) => {
      graft.core.Sampling.groupQuota(Tables.documents(s, dir),
          "source", "doc_id", cap = 15)
        .select(col("doc_id"), col("source"),
          col("src_rank").cast("long").as("src_rank"), col("quota_kept"))
    }),

    // product-quantization ENCODE under deterministic hash codebooks —
    // the oracle-able stage of the PQ pipeline (trained codebooks are
    // covered by ProductQuantizerSpec; the encode math is identical)
    "q56_pq_encode" -> ((s, dir) => {
      graft.core.ProductQuantizer.encodeFlat(
        Tables.embeddings(s, dir), PqOracleModel)
    }),

    // PQ ADC top-k under the same hash codebooks: with literal
    // codebooks the WHOLE approximate pipeline is deterministic float
    // math (sequential folds both sides), so even the top-k ranking
    // hash-matches DuckDB
    "q57_pq_adc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 50 === 1)
      val enc = graft.core.ProductQuantizer.encode(emb, PqOracleModel)
      graft.core.ProductQuantizer.adcTopK(queries, enc, PqOracleModel, k = 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos_approx"))
    }),

    // bucketed range join: every event inside the 2-hour window opened
    // by each purchase of the same user — candidate join on (key,
    // hour-bucket), exact predicate after
    "q58_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val anchors = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("anchor_id"), col("user_id"),
          col("ts").as("a_ts"))
        .withColumn("a_end", col("a_ts") + expr("INTERVAL 2 HOURS"))
      graft.core.Joins.rangeJoin(ev, anchors, "user_id", "user_id",
          "ts", "a_ts", "a_end", bucketSeconds = 3600L)
        .select(col("event_id"), col("user_id"), col("anchor_id"),
          col("event_type"),
          expr("(unix_timestamp(ts) - unix_timestamp(a_ts)) DIV 60")
            .as("minutes_after"))
    }),

    // markup stripping over deterministically-derived HTML (both
    // engines wrap the same text in the same tags, so the oracle
    // exercises real scrubbing: script elision, tag drop, entity
    // decode, whitespace collapse)
    "q59_strip_markup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val aug = concat(
        lit("<html><body data-id=\""), col("doc_id").cast("string"),
        lit("\"><h1>T&amp;C</h1><script type=\"text/js\">var x = 1;</script><p>"),
        col("text"),
        lit("</p>"),
        when(col("doc_id") % 2 === 0,
          lit("<style>p { color: red }</style>&lt;EOF&gt;")).otherwise(lit("")),
        lit("</body></html>"))
      TextAnalysis.stripMarkup(d.withColumn("html", aug), "html")
        .select(col("doc_id"), col("clean_text"))
    }),

    // portable hash train/val/test split: the assignment is a pure
    // function of (id, seed) via the engine's rolling hash, so the
    // oracle reproduces the exact split
    "q60_hash_split" -> ((s, dir) => {
      graft.core.Sampling.hashSplit(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
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

    // data-quality profile: per-column completeness/cardinality/range
    // in one scan — the before/after report of every ingest stage
    "q63_profile" -> ((s, dir) => {
      graft.core.Profile.profile(Tables.documents(s, dir))
    }),

    // lakehouse DSv2 read path: orders committed to a SnapshotTable in
    // three date-disjoint commits, read back through
    // spark.read.format("graft-snapshot") — the pushed date predicate
    // prunes manifest files via footer stats BEFORE the scan plans
    // (only the 1996 commit's files are opened), then Spark's parquet
    // scan handles row-group skip + column pruning. Oracle runs the
    // same aggregation over the raw orders table.
    "q64_snapshot_scan" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val t = scratchDir("graft_q64") + "/orders_snap"
      Seq(("1992-01-01", "1995-01-01"), ("1995-01-01", "1997-01-01"),
          ("1997-01-01", "1999-01-01")).foreach { case (lo, hi) =>
        graft.sources.SnapshotTable.append(
          orders.filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi)), t)
      }
      s.read.format("graft-snapshot").load(t)
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total_price"))
        .orderBy("o_orderpriority")
    }),

    // conditional MERGE, end-to-end against a relational oracle:
    // pre-1996 orders become a snapshot table; the source doubles the
    // price of every key%97 row (matched UPDATE), drops key%(97*5)
    // rows (matched DELETE), and re-adds the updates under shifted
    // keys (NOT MATCHED INSERT). The oracle reproduces the same
    // disposition with a LEFT JOIN + UNION in plain SQL.
    "q65_snapshot_merge" -> ((s, dir) => {
      val t = scratchDir("graft_q65") + "/t"
      val tgt = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1996-01-01"))
      graft.sources.SnapshotTable.append(tgt, t)
      val updates = tgt.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = updates
        .withColumn("o_orderkey", col("o_orderkey") + lit(30000000L))
      graft.sources.SnapshotTable.merge(s, t, updates.unionByName(inserts), "o_orderkey",
        whenMatchedUpdate = Map("o_totalprice" -> col("_src.o_totalprice")),
        whenMatchedDelete = Some(col("o_orderkey") % 485 === 0),
        whenNotMatchedInsert = true)
      graft.sources.SnapshotTable.read(s, t)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          round(sum("o_totalprice"), 2).as("total_price"))
    }),

    // sub-document dedup: 12-word chunks, corpus-wide first-occurrence
    // wins, docs reassembled — catches repeated boilerplate inside
    // otherwise-distinct documents
    "q66_chunk_dedup" -> ((s, dir) => {
      TextAnalysis.chunkDedup(Tables.documents(s, dir), "doc_id", "text", 12)
        .orderBy("doc_id")
    }),

    // SemDeDup (cluster-bucketed semantic dedup): fixed corpus-row
    // centroids (vec_id % 97 == 3, ordered) stand in for a trained
    // quantizer so the whole pipeline — literal-centroid assignment,
    // within-cluster cosine pairs, component resolution — is
    // deterministic and oracle-checkable end-to-end. Trained-centroid
    // behavior (recall vs exact) is covered in SimilaritySpec.
    "q67_semdedup" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val cents = emb.filter(col("vec_id") % 97 === 3)
        .orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .as[Array[Double]].collect()
      val model = graft.ml.KMeansTrainer.KMeansModel(cents, Nil, 0, cosine = true)
      Similarity.semDedup(emb, model, tau = 0.82)
        .select(col("vec_id"), col("bucket").cast("long").as("bucket"),
          col("survivor_id"), col("is_survivor"))
    }),

    // bigram-LM perplexity filter: train on the doc_id%7 slice,
    // score the whole corpus. All outputs are exact integers —
    // ll_scaled is a BIGINT sum of per-token floor(1e6·ln P) terms, so
    // the order-sensitive float-sum trap can't bite (integer addition
    // commutes) and the oracle hash-matches.
    "q68_lm_score" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val lm = LanguageModel.trainBigram(d.filter(col("doc_id") % 7 === 0))
      LanguageModel.scoreBigram(d, lm)
    }),

    // DSIR importance resampling: target = the doc_id%10 slice, raw =
    // the rest; hashed unigram+bigram bucket log-ratios (fixed point),
    // Gumbel-top-k selection keyed on BIGINTs — the entire sampling
    // decision is deterministic and engine-portable.
    "q69_dsir" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val target = d.filter(col("doc_id") % 10 === 0)
      val raw = d.filter(col("doc_id") % 10 =!= 0)
      LanguageModel.dsirResample(raw, target, k = 100, buckets = 512)
    }),

    // incremental dedup against a persisted MinHash band index: the
    // corpus (two appended increments — exercising the transactional
    // index-growth path) is indexed ONCE; the new batch broadcasts
    // into one index scan. The oracle reproduces the equivalent
    // monolithic band join, so the incremental path is pinned to the
    // same semantics.
    "q70_index_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val t = scratchDir("graft_q70") + "/idx"
      Dedup.writeBandIndex(d.filter(col("doc_id") % 3 === 0), "doc_id", "text", t)
      Dedup.writeBandIndex(d.filter(col("doc_id") % 3 === 2), "doc_id", "text", t)
      Dedup.dedupAgainstIndex(s, d.filter(col("doc_id") % 3 === 1), t,
          "doc_id", "text", minEstJaccard = 0.5)
        .select(col("doc_id"), col("is_dup"), col("dup_of"), col("est_jaccard"))
    }),

    // quality-classifier inference in its production shape: quantized
    // fixed-point weights over hashed gram features, exact BIGINT
    // scores. Weights derive from the portable hash so the oracle
    // reproduces the full scoring decision; TRAINING (distributed
    // gradient descent) is covered by QualityClassifierSpec.
    "q71_quality_score" -> ((s, dir) => {
      graft.ml.QualityClassifier.scoreFixedPoint(Tables.documents(s, dir),
        graft.ml.QualityClassifier.hashWeights(s, 512), 512)
    }),

    // exact-substring duplication spans: 8-token sliding windows,
    // corpus-global occurrence flagging, per-doc interval-union
    // coverage — the bounded-width form of suffix-array substring
    // dedup
    "q72_dup_spans" -> ((s, dir) => {
      TextAnalysis.dupSpans(Tables.documents(s, dir), "doc_id", "text", n = 8)
    }),

    // the full modern curation composition: quality + repetition +
    // span gates -> exact dedup -> self-trained LM perplexity gate
    // (fixed-point compare, threshold between the corpus p95/p99 so
    // the gate demonstrably FIRES) -> near-dup resolution. Stages are
    // individually oracled (q22/23/53/72/17/68/19/43); this pins the
    // composition.
    "q73_curation_full" -> ((s, dir) => {
      graft.core.Curation.curateFull(Tables.documents(s, dir),
          maxNllMicro = 3450000L)
        .select(col("doc_id"), col("lang_pred"), col("quality_score"),
          col("quality_ok"), col("rep_ok"), col("span_ok"),
          col("n_bigrams"), col("ll_scaled"), col("lm_ok"),
          col("kept_exact"), col("survivor_id"), col("is_survivor"))
    }),

    // sequence packing, the map stage: global token prefix sum
    // (two-phase, never a one-partition window) placing every doc's
    // token interval, then the (doc, sequence)-intersection slices at
    // L=512. The artifact a 100 TB run persists for shard assembly.
    "q74_pack_map" -> ((s, dir) => {
      graft.core.Packing.packCompositions(
        Tables.documents(s, dir), "doc_id", "text", seqLen = 512)
    }),

    // sequence packing, assembled: fixed-length training sequences
    // with doc counts — documents span boundaries, short docs share
    // windows, the corpus tail window is visibly short.
    // the packing map's trainer sidecar: per-sequence ordered doc
    // boundaries as a canonical off:doc:len string — what a dataloader
    // turns into block-diagonal attention masks
    "q110_pack_boundaries" -> ((s, dir) => {
      graft.core.Packing.packBoundaries(
        Tables.documents(s, dir), "doc_id", "text", seqLen = 512)
    }),

    "q75_pack_seqs" -> ((s, dir) => {
      graft.core.Packing.packSequences(
        Tables.documents(s, dir), "doc_id", "text", seqLen = 512)
    }),

    // corpus-wide top-k n-grams: boilerplate discovery / stop-gram
    // tuning. Map-side combine collapses the Zipfian head before the
    // exchange; only (gram, count) shuffles, only k rows reach the
    // driver.
    "q76_top_ngrams" -> ((s, dir) => {
      TextAnalysis.topNgrams(Tables.documents(s, dir), "text", n = 3, k = 100)
    }),

    // temperature-flattened source mixing at alpha=0.5: rate
    // sqrt(n_min/n_s) per source, portable value-hash Bernoulli —
    // sqrt and division are IEEE-exact, so even the quantized
    // threshold is engine-identical. Full audit, no corpus shuffle.
    "q77_temperature_mix" -> ((s, dir) => {
      Sampling.temperatureSample(Tables.documents(s, dir), "source",
          "doc_id", alpha = 0.5, seed = 42L)
        .select(col("doc_id"), col("source"), col("n_source"),
          col("keep_below"), col("mix_hash"), col("mix_kept"))
    }),

    // in-engine BPE: train 100 merges from the distributed
    // word-frequency dict (driver solves the bounded dict problem,
    // never the corpus), then distributed encode with memoized
    // greedy rank merges. The projection is the corpus-trained merge
    // list, now under a FULL oracle: q78OracleSql replays the entire
    // iterated argmax-rewrite loop as a DuckDB recursive CTE (the
    // aggregate-over-recursive-reference form DuckDB permits), so
    // every one of the 100 steps — pair count, tie-break, rewrite —
    // is hash-pinned on corpus data. BpeSpec additionally pins the
    // published worked example, an independent reference
    // implementation, reconstruction, and partition invariance; dict
    // q82, encode q85, fertility q92 cover the rest of the machinery.
    "q78_bpe_merges" -> ((s, dir) => {
      val model = Bpe.train(Tables.documents(s, dir), "text", numMerges = 100)
      import s.implicits._
      model.merges.zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("merge_rank", "lhs", "rhs")
    }),

    // packing under a different cost model: placement by CHARACTER
    // budget (embedding-model chunking shape) — same two-phase prefix
    // sum, weight column instead of tokenization
    "q79_pack_by_cost" -> ((s, dir) => {
      Packing.packCompositionsBy(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars").cast("long").as("n_tokens")),
        "doc_id", seqLen = 4096)
    }),

    // the full training-data pipeline in one query: curate (5-stage
    // gates) -> survivors -> BPE train + id-encode on the CURATED
    // corpus -> packed fixed-length TOKEN-ID sequences — the exact
    // artifact a trainer loads. FULL oracle since r8 (q80OracleSql):
    // the whole composition replays as one DuckDB statement and the
    // packed id arrays hash-compare via a portable md5 digest.
    // encode boundary MATERIALIZED (written SnapshotTable, read by
    // both packing consumers): measured 10.3s vs 14.5s for the
    // re-run-encode form under the bench methodology, 11.6s vs 18.8s
    // cold-cache (see PLANS.md "q80 encode boundary") — and it is the
    // only shape that works when encode output exceeds memory, so the
    // gate runs the same code path production would.
    "q80_corpus_to_sequences" -> ((s, dir) => corpusToSequences(s, dir,
      encodeTable = Some(scratchDir("graft_q80enc") + "/enc"))),

    // packing meets the table format, oracle-checked end-to-end:
    // pack -> writeShards (range-clustered snapshot commit) -> a
    // trainer's shard fetch (stat-pruned seq_id range read). The
    // oracle recomputes the same window slice relationally — so the
    // whole materialize-and-refetch loop, table format included, must
    // reproduce the declarative answer.
    "q83_pack_shards" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val seqs = Packing.packSequences(
        Tables.documents(s, dir), "doc_id", "text", seqLen = 512)
      val table = scratchDir("graft_q83") + "/seqs"
      Packing.writeShards(seqs, table, shards = 8)
      SnapshotTable.read(s, table, prune = Seq(
          SnapshotTable.ColRange("seq_id", upper = Some(3L))))
        .filter(col("seq_id") <= 3)
    }),

    // the deterministic prefix of the BPE pipeline (q78's discipline
    // match for q49/q50): the distributed word-frequency dictionary
    // the trainer consumes, min-frequency filtered
    "q82_bpe_dict" -> ((s, dir) => {
      Bpe.wordCounts(Tables.documents(s, dir), "text")
        .filter(col("cnt") >= 2)
    }),

    // deterministic per-epoch shuffle keys: different permutation
    // each epoch, each exactly reproducible and partitioning/engine
    // independent (what orderBy(rand) is not). Keys pin the
    // permutation; materializing it is one range exchange.
    "q81_epoch_shuffle" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.epochShuffle(docs, "doc_id", epoch = 0)
        .select(col("doc_id"), col("shuffle_key").as("key_epoch0"))
        .join(Sampling.epochShuffle(docs, "doc_id", epoch = 1)
          .select(col("doc_id"), col("shuffle_key").as("key_epoch1")),
          Seq("doc_id"))
    }),

    // REAL image decode, oracle-checked end-to-end: deterministic
    // gradient PNGs generated per doc_id, ENCODED with the JDK's
    // ImageIO on the executors, decoded back with the real
    // javax.imageio codec (not the stub), then mean-luminance strip
    // features from the decoded pixels. The oracle replays the
    // generator arithmetic relationally — PNG is lossless, so the
    // encode->decode roundtrip must reproduce the exact pixel values
    // or the hashes diverge.
    "q84_image_features" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      graft.core.Multimodal.imageGridFeatures(media, k = 4)
        .select(col("media_id").as("doc_id"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // BPE ENCODE under a full oracle: the merge LOOP (training) is the
    // only non-SQL-expressible part of BPE, so pin a fixed
    // library-constant model (trained once over an embedded dictionary
    // — a model is a parameter of encode exactly as PQ codebooks are
    // of q56/q57) and the greedy rank-merge ENCODE itself becomes
    // oracle-checkable: the DuckDB side replays best-rank selection +
    // leftmost-non-overlapping merge-all as a recursive CTE over the
    // literal merge table, per distinct word, reassembled per doc.
    // (q78 keeps the corpus-trained model rows-only; q82 oracles its
    // dict; BpeSpec pins its loop.)
    "q85_bpe_encode_fixed" -> ((s, dir) => {
      Bpe.encode(Tables.documents(s, dir), "doc_id", "text", FixedBpeModel)
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          concat_ws(" ", col("pieces")).as("encoded"))
    }),

    // REAL audio decode, oracle-checked end-to-end (the q84 discipline
    // for sound): deterministic test tones encoded as genuine PCM WAV
    // via javax.sound.sampled on the executors, decoded back with the
    // real codec, mean-|amplitude| window features from the decoded
    // samples. PCM is lossless — the oracle replays the generator
    // arithmetic, so header parsing, sample extraction, and windowing
    // must all be exact.
    "q86_audio_features" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeToneWavs(ids)
      graft.core.Multimodal.audioWindowFeatures(media, k = 4)
        .select(col("media_id").as("doc_id"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // IVF + PQ serving composition (IVFADC): coarse-probe pruning AND
    // compressed-domain ADC ranking in one query — q27's probe
    // discipline over q56/q57's codes. Deterministic for the fixed
    // centroids + literal codebooks, so fully oracle-checkable.
    "q87_ivfpq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      graft.core.ProductQuantizer.ivfPqTopK(
        emb.filter(col("vec_id") < 8), emb, centroids, PqOracleModel,
        k = 5, nProbe = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cos_approx"))
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

    // Isolation-forest scoring under a full oracle (q28 keeps the
    // 200-tree sklearn export rows-only — embedding ~150k parameters
    // in SQL is not an oracle, it's a transcript). A deterministic
    // 16-tree fixed ensemble (integer-derived structure the DuckDB
    // side REGENERATES and walks with a recursive CTE) goes through
    // the exact decisionFunction path q28 uses, so traversal, c(n)
    // depth correction, and the 2^(-x) score are all hash-pinned.
    // Features are exact integer arithmetic over doc_id: both engines
    // compute bit-identical doubles, so every tree path is identical
    // by construction, not by tolerance.
    "q89_isoforest_fixed" -> ((s, dir) => {
      import graft.ml.IsoForestScorer
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val feats = IsoForestScorer.fixedFeatures(docs, col("doc_id"))
      IsoForestScorer.scoreFeatures(feats, Seq("f0", "f1", "f2", "f3"),
          IsoForestScorer.fixedEnsemble)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
    }),

    // REAL video frame sampling, oracle-checked end-to-end: the q84/
    // q86 discipline for moving pictures. Deterministic gradient
    // frames are encoded as genuine multi-frame animated GIFs (the one
    // video container the JDK writes AND reads natively) on the
    // executors, decoded back frame-by-frame with the real codec,
    // stride-sampled (every 2nd frame), and featured from REAL pixels.
    // GIF's LZW + full-gray palette is lossless, so the oracle replays
    // the generator arithmetic — container framing, palette, LZW, and
    // frame indexing must all roundtrip exactly or the hash diverges.
    "q90_video_frames" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientGifs(ids)
      graft.core.Multimodal.videoFrameFeatures(media, every = 2, k = 4)
        .select(col("media_id").as("doc_id"), col("frame_idx"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // Per-source quality-QUANTILE gate (FineWeb/CCNet: "keep each
    // source's top 25% by quality") — exact rank variant: the rounded
    // quality score is bit-identical across engines (exact integer
    // ratios through one mul/add chain), so ordering, ranking, and the
    // ceil(n/4) cutoff all hash-match. The percentile_approx scale
    // variant (no per-source sort, threshold table broadcast back) is
    // spec-pinned against this exact gate in CorpusOpsSpec.
    "q91_quality_quantile_gate" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Sampling.topFractionByGroup(scored, "source", "quality_score", "doc_id",
          fraction = 0.25)
        .filter(col("kept"))
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("grp_rank").cast("long").as("grp_rank"))
    }),

    // Tokenizer FERTILITY by source (tokens/word, chars/token — the
    // standard tokenizer-eval metrics from the multilingual-LM
    // literature): q85's fixed-model encode aggregated per source.
    // Integer sums are exact, the two ratios divide them once at the
    // end — fully oracle-checkable through the same recursive-CTE
    // encode replay q85 pins.
    "q92_tokenizer_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Bpe.encode(docs, "doc_id", "text", FixedBpeModel)
        .join(docs.select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").cast("long").as("total_words"),
          sum("n_pieces").cast("long").as("total_pieces"),
          sum("n_chars").cast("long").as("total_chars"))
        .select(col("source"), col("n_docs"),
          col("total_words"), col("total_pieces"),
          round(col("total_pieces").cast("double") / col("total_words"), 6)
            .as("fertility"),
          round(col("total_chars").cast("double") / col("total_pieces"), 6)
            .as("chars_per_piece"))
    }),

    // The STREAMING sequence packer under a full oracle: deterministic
    // per-doc token ids (pure arithmetic — packing, not BPE, is under
    // test) run through TWO PackStream.packBatch calls into a real
    // snapshot table (batch boundary at the id midpoint), sequences
    // read back from the table. The DuckDB oracle replays the
    // concatenated packing relationally and drops the trailing
    // partial — which the stream holds as its tail by design — so
    // batch-boundary continuation, the tail carry, and the idempotent
    // table commits are all hash-pinned end-to-end.
    "q93_stream_pack" -> ((s, dir) => {
      val L = 64
      val docs = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("piece_ids",
          transform(sequence(lit(0), (col("doc_id") % 5 + 2).cast("int")),
            j => col("doc_id") * 10 + j))
      val mid = docs.agg(max("doc_id")).head().getLong(0) / 2
      val table = scratchDir("q93_stream_pack") + "/t"
      graft.streaming.PackStream.packBatch(
        docs.filter(col("doc_id") <= mid), table, L, 0L)
      graft.streaming.PackStream.packBatch(
        docs.filter(col("doc_id") > mid), table, L, 1L)
      graft.streaming.PackStream.sequences(s, table)
        .select(col("seq_id"), col("n_docs"), col("n_tokens"),
          concat_ws(",", col("token_ids")).as("ids_str"))
    }),

    // q20's LINEAR-SCALE path under its own full oracle: band buckets
    // above maxBandSize are dropped from candidate generation (the
    // web-scale guard against hot template bands — same lower-bound
    // contract as q95's maxDf). maxBandSize=2 is the strictest cap, so
    // any bucket a dup-cluster inflates past two docs provably bites
    // here: the capped plan, not just the exact one, is hash-verified.
    "q94_lsh_banded_cap" -> ((s, dir) => {
      Dedup.lshCandidates(Tables.documents(s, dir), "doc_id", "text",
        k = 8, rowsPerBand = 2, n = 3, minEstJaccard = 0.25,
        maxBandSize = 2)
    }),

    // q19's LINEAR-SCALE path under its own full oracle: shingles with
    // document frequency above maxDf are dropped from candidate
    // generation (denominators still count them — capped Jaccard is a
    // lower bound of exact). This makes the plan a 100 TB run would
    // actually use the hash-verified one, not just the exact-quadratic
    // baseline.
    "q95_jaccard_maxdf" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.2, maxDf = 4)
    }),

    // The BPE trainer's FIRST merge step under a full oracle: the
    // first-round pair-count table (top 50 by the trainer's exact
    // tie-break: count desc, pair lexicographic) computed
    // relationally, with `is_first_merge` pinning the DRIVER LOOP's
    // argmax ([[Bpe.train]] with numMerges=1, embedded as a literal)
    // against the relational rank-1 row — if the loop's pair-count or
    // tie-break ever diverged from the declared semantics, the hashes
    // diverge. This is the oracle-expressible prefix of the q78 loop.
    "q96_bpe_first_merge" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dict = Bpe.wordCounts(Tables.documents(s, dir), "text")
        .filter(col("cnt") >= 2)
      val sym = dict.select(
        concat(split(col("word"), ""), array(lit(Bpe.EndOfWord))).as("s"),
        col("cnt"))
      val counts = sym.select(explode(zip_with(
          slice(col("s"), lit(1), size(col("s")) - 1),
          slice(col("s"), lit(2), size(col("s")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("c"))
      val first = Bpe.train(Tables.documents(s, dir), "text",
        numMerges = 1).merges.head
      // global window over the top-50 only (bounded by the limit)
      counts.orderBy(col("c").desc, col("a"), col("b")).limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("c").desc, col("a"), col("b"))).cast("long"))
        .select(col("rank"), col("a"), col("b"), col("c"),
          (col("a") === lit(first._1) && col("b") === lit(first._2))
            .as("is_first_merge"))
    }),

    // the skew-mitigated join under a full oracle: Skew.saltedJoin
    // splits each part key over 8 salt buckets (deterministic salt
    // from l_orderkey, small side replicated per salt) and must
    // reproduce the PLAIN join's row multiset exactly — pinned through
    // a per-brand aggregate of the joined rows
    "q97_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"))
      val pt = Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.core.Skew.saltedJoin(li, pt, "l_partkey",
          col("l_orderkey"), buckets = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 2).as("sum_qty"))
    }),

    // Count-Min heavy hitters under a full oracle: corpus bigrams,
    // support = 0.1% of the stream. At this universe (~930 types) vs
    // the sketch grid (eps 1e-4 -> 20k cells x depth 5, fixed seed)
    // the min-over-depth estimate is collision-free, so the emitted
    // (value, count) pairs equal DuckDB's exact GROUP BY — the sketch
    // path is pinned END-TO-END, not just its thresholded set. The
    // overcount-only contract (no false negatives) holds regardless.
    "q98_cms_heavy_hitters" -> ((s, dir) => {
      val t = TextAnalysis.tokens(col("text"))
      val bg = Tables.documents(s, dir).select(explode(zip_with(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
      val total = bg.count()
      val minCount = (total + 999L) / 1000L // ceil: cnt*1000 >= total
      val sk = graft.core.Sketches.countMin(bg, "bigram",
        eps = 0.0001, confidence = 0.99)
      graft.core.Sketches.heavyHitters(bg, "bigram", minCount, sk)
        .select(col("bigram"), col("est_count").as("cnt"))
    }),

    // the STREAMING sketch path under the same oracle: three
    // deterministic micro-batches through NgramStream.CmsHeavyHitters
    // (per-batch distributed CMS, driver merge, bounded candidate
    // head). Cell-wise CMS merge == one-pass CMS of the whole stream,
    // the grid is collision-free on this fixture (q98's argument), and
    // topKPerBatch exceeds the ~930-type universe so every gram is a
    // candidate — the stream-accumulated (value, count) pairs equal
    // DuckDB's exact GROUP BY over the batch-concatenated corpus.
    "q99_stream_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val hh = new graft.streaming.NgramStream.CmsHeavyHitters(
        n = 2, topKPerBatch = 2000, eps = 0.0001, confidence = 0.99)
      (0 until 3).foreach(b =>
        hh.update(docs.filter(col("doc_id") % 3 === b), "text"))
      val total = docs.select(explode(
        TextAnalysis.ngramsAll(col("text"), 2)).as("g")).count()
      hh.heavyHitters(minCount = (total + 999L) / 1000L)
        .toDF("bigram", "cnt")
    }),

    // INCREMENTAL IVF serving index under q27's full oracle: the index
    // is built in TWO transactional commits (bootstrap + append of the
    // newly-arrived half) into a snapshot table, then queried through
    // the stat-pruned probe read — and must equal the one-shot
    // relational IVF pipeline exactly. Pins the whole maintenance
    // loop: assignment against frozen centroids, bucket-clustered
    // commits, manifest range pruning, probe-time ranking.
    "q100_ivf_index_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val t = scratchDir("graft_q100") + "/ivf"
      // clusterPartitions pins 8 bucket-ranged files per commit: AQE
      // would coalesce these small commits to ONE file spanning every
      // bucket, and a one-file table cannot manifest-prune — the probe
      // read's prune is part of what this gate exercises
      // (IndexPruningGateSpec pins it on the executed plan)
      Similarity.writeIvfIndexTable(
        emb.filter(col("vec_id") % 2 === 0), centroids, t,
        clusterPartitions = Some(8))
      Similarity.appendToIvfIndex(
        emb.filter(col("vec_id") % 2 === 1), centroids, t,
        clusterPartitions = Some(8))
      Similarity.ivfTopKIndexedTable(s, emb.filter(col("vec_id") < 8), t,
          centroids, k = 5, nProbe = 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

    // BM25 keyword retrieval (the sparse complement to the dense ANN
    // stack): each held-out query doc (doc_id % 100 == 0) retrieves
    // its top-10 training docs by Okapi BM25 over whitespace tokens.
    // Scores are 1e-6 fixed-point BIGINTs (the q68 discipline) so the
    // sum is order-free; full oracle replays postings/df/dl/idf and
    // the rank window relationally.
    "q101_bm25_retrieval" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.core.Retrieval.bm25TopK(
        d.filter(col("doc_id") % 100 =!= 0),
        d.filter(col("doc_id") % 100 === 0), k = 10)
    }),

    // the INCREMENTAL postings index under q101's full oracle: the
    // index is built in TWO transactional commits (even train docs
    // bootstrap, odd append) into a bucket-clustered snapshot table,
    // served through the manifest-pruned probe read — and must equal
    // the one-shot relational BM25 exactly (the q100/q27 discipline
    // applied to sparse retrieval: commit structure provably cannot
    // leak into answers).
    "q102_bm25_index_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val train = d.filter(col("doc_id") % 100 =!= 0)
      val t = scratchDir("graft_q102") + "/postings"
      // 8 bucket-ranged files per commit (the q100 rationale): the
      // probe read must have something to prune at gate scale
      graft.core.Retrieval.writePostingsIndex(
        train.filter(col("doc_id") % 2 === 0), t,
        clusterPartitions = Some(8))
      graft.core.Retrieval.appendToPostingsIndex(
        train.filter(col("doc_id") % 2 =!= 0), t,
        clusterPartitions = Some(8))
      graft.core.Retrieval.bm25TopKIndexedTable(s,
        d.filter(col("doc_id") % 100 === 0), t, k = 10)
    }),

    // hybrid retrieval: reciprocal-rank fusion of the sparse BM25
    // list and the dense cosine list (same query slice; doc_id and
    // vec_id are the same key space). Contributions are the INTEGER
    // 1e9 DIV (60 + rank), so the fused score is an order-free BIGINT
    // sum; both arms are k-bounded per query, so fusion costs
    // O(queries x k) however big the corpus is.
    "q103_hybrid_rrf" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val sparse = graft.core.Retrieval.bm25TopK(
        d.filter(col("doc_id") % 100 =!= 0),
        d.filter(col("doc_id") % 100 === 0), k = 20)
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.cosineTopK(
          emb.filter(col("vec_id") % 100 === 0),
          emb.filter(col("vec_id") % 100 =!= 0), k = 20)
        .withColumnRenamed("neighbor_id", "doc_id")
      graft.core.Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
    }),

    // index-quality evaluation: recall@5 of the IVF ANN pipeline
    // (q27's exact parameterization) against the brute-force cosine
    // ranking — the gate a serving index runs after every
    // build/append to justify its nProbe setting with a number.
    "q104_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
      val exact = Similarity.cosineTopK(queries, emb, k = 5)
      val centroids = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val ann = Similarity.ivfTopK(queries, emb, centroids, k = 5, nProbe = 2)
      Similarity.recallAtK(exact, ann, k = 5)
    }),

    // MMR diversified top-k: greedy relevance-vs-redundancy selection
    // over the exact top-20 candidate pool, per-query bounded state in
    // flatMapGroups (poolSize·dim floats — never a driver loop). The
    // oracle replays the greedy as a DuckDB recursive CTE with a
    // struct-max argmax per step (LATERAL correlation inside recursion
    // silently NULLs in DuckDB 1.0 — see PLANS.md).
    "q105_mmr_select" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.mmrTopK(emb.filter(col("vec_id") < 4), emb,
        k = 5, poolSize = 20)
    }),

    // quality-aware dedup resolution: the LONGEST member of each
    // near-dup cluster survives (keep-the-most-complete-copy policy)
    // via one struct-max aggregation per cluster — q43's component
    // machinery with a production survivor rule
    "q106_dedup_keep_longest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      Dedup.resolveSurvivorsBy(docs, "doc_id", pairs,
        struct(col("n_chars"), (-col("doc_id")).as("neg")))
        .select(col("doc_id"), col("survivor_id"), col("is_survivor"))
    }),

    // global token-budget selection: the best 20k tokens by
    // alpha-density priority (exact fixed-point integers), cumulative
    // count via the two-phase prefix sum under the priority order
    "q107_token_budget" -> ((s, dir) => {
      val counted = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        expr("CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) * 1000000" +
          " AS BIGINT) DIV greatest(length(text), 1)").as("alpha_micro"))
      Sampling.tokenBudgetSelect(counted, "doc_id", "alpha_micro",
        budget = 20000L)
    }),

    // PSI drift report: each source's token-length distribution vs
    // the whole corpus, add-one smoothed over a dense 16-bucket grid,
    // per-bucket terms floored to 1e-6 BIGINT (order-free sums)
    "q108_psi_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("n_tokens",
        size(TextAnalysis.tokens(col("text"))).cast("long"))
      graft.core.Profile.psi(d, "source",
        expr("least(n_tokens DIV 32, 15)"), nBuckets = 16)
    }),

    // the STREAMING drift monitor's exact windowed plan, run in batch
    // mode (the q93 discipline: streaming semantics under a relational
    // oracle; DriftStreamSpec proves the same plan streams with
    // watermark close + late-drop): per-day PSI of the event-value
    // distribution vs the whole table's, reference = 16 driver longs
    "q109_stream_psi" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val bucket = least(floor(col("value") / 32).cast("long"), lit(15L))
      val ref = graft.streaming.DriftStream.fitReference(ev, bucket, 16)
      graft.streaming.DriftStream.windowedPsi(ev, "ts", bucket, ref,
          windowDur = "1 day", watermarkDelay = "0 seconds")
        .select(col("window_start").cast("date").as("d"),
          col("psi_micro"), col("n_rows"))
    }),

    // KS drift report: PSI's rank-statistic sibling over the same
    // source/token-length grid — max CDF gap per source vs the corpus,
    // order-free integer cumsums + one division per side, so the
    // fixed-point result has NO cross-engine ulp surface at all
    "q111_ks_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("n_tokens",
        size(TextAnalysis.tokens(col("text"))).cast("long"))
      graft.core.Profile.ks(d, "source",
        expr("least(n_tokens DIV 32, 15)"), nBuckets = 16)
    }),

    // SQ8 scalar-quantized ANN: per-dim [min,max] -> one byte
    // (faiss QT_8bit), asymmetric scoring — full-precision queries
    // against in-plan-decoded codes + stored exact norms. Fit is one
    // 2x64-aggregate scan (bounded driver state); every code/decode
    // step is correctly-rounded IEEE, so the oracle refits and
    // re-encodes from the data alone and hash-matches
    "q112_sq8_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.core.ScalarQuantizer.fit(emb)
      val enc = graft.core.ScalarQuantizer.encode(emb, model)
      graft.core.ScalarQuantizer.adcTopK(
          emb.filter(col("vec_id") < 8), enc, model, k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

    // dup-span REMOVAL (the transform q72 only measures): non-first
    // occurrences of any corpus-repeated 8-token window are deleted
    // and each doc is rebuilt from its surviving tokens in order —
    // the Lee-et-al exact-substring cleanup as a corpus rewrite
    "q113_dup_span_scrub" -> ((s, dir) => {
      TextAnalysis.scrubDupSpans(Tables.documents(s, dir), "doc_id", "text",
        n = 8)
    }),

    // OOV drift: per-source share of tokens outside the corpus-head
    // vocabulary (top-256 by count, deterministic tie-break) — the
    // tokenizer-health stat next to PSI/KS; exact integer fixed-point
    "q114_oov_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.oovRate(docs, "source", "text",
        TextAnalysis.topVocab(docs, "text", size = 256))
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

    // REAL pixel resize through the codec: gradient PNGs decoded,
    // nearest-neighbor-resampled to 4x3 (integer index map),
    // re-encoded as PNG, decoded again for strip features — the
    // oracle replays generator arithmetic THROUGH the index map, so
    // two real encode/decode roundtrips are hash-pinned
    "q116_image_resize" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      val resized = graft.core.Multimodal.resizeImages(media, 4, 3)
      graft.core.Multimodal.imageGridFeatures(resized, k = 4)
        .select(col("media_id").as("doc_id"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // incrementally-maintained daily rollup: two additive merge
    // commits (event_id parity batches) into a snapshot table must
    // equal the one-shot relational aggregate — the q100/q102
    // commit-structure-cannot-leak rule applied to aggregation;
    // per-row fixed-point BIGINT measures make partial sums order-free
    "q117_rollup_incremental" -> ((s, dir) => {
      val t = scratchDir("graft_q117") + "/rollup"
      val ev = Tables.events(s, dir)
      graft.sources.IncrementalRollup.upsertDaily(s,
        ev.filter(col("event_id") % 2 === 0), t)
      graft.sources.IncrementalRollup.upsertDaily(s,
        ev.filter(col("event_id") % 2 === 1), t)
      graft.sources.IncrementalRollup.readDaily(s, t)
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

    // exactly-once rollup ingest: the q117 build via the
    // txn-watermarked wrapper, with batch 1 REPLAYED — a leaked
    // replay would double half the days and fail the shared oracle
    "q119_rollup_exactly_once" -> ((s, dir) => {
      val t = scratchDir("graft_q119") + "/rollup"
      val ev = Tables.events(s, dir)
      val w = "gate-writer"
      graft.sources.IncrementalRollup.upsertDailyIdempotent(s,
        ev.filter(col("event_id") % 2 === 0), t, w, 0L)
      graft.sources.IncrementalRollup.upsertDailyIdempotent(s,
        ev.filter(col("event_id") % 2 === 1), t, w, 1L)
      graft.sources.IncrementalRollup.upsertDailyIdempotent(s,
        ev.filter(col("event_id") % 2 === 1), t, w, 1L)
      graft.sources.IncrementalRollup.readDaily(s, t)
    }),

    // embedding-centroid drift: per-label cosine distance between the
    // label's centroid and the corpus centroid — the SEMANTIC drift
    // stat next to PSI (per-bucket mass) and KS (location): order-free
    // fixed-point component sums, one fixed-order fold per group, so
    // the fixed-point result is bit-identical across engines
    "q120_centroid_drift" -> ((s, dir) => {
      graft.core.Profile.centroidDrift(
          Tables.embeddings(s, dir), "label", "embedding", dim = 64)
        .select(col("label").cast("long").as("label"),
          col("n_rows"), col("drift_micro"))
    }),

    // length-grouped (dynamic) batching: bucket docs by token length,
    // longest-first within bucket, fixed-size batches — the padded-
    // loader counterpart of packing; per-batch pad-token accounting.
    // Exact integers under a total order; the two-phase global rank
    // replaces the skewed per-bucket window at scale
    "q121_length_batching" -> ((s, dir) => {
      val counted = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val assign = graft.core.Packing.lengthBatches(
        counted, "doc_id", "n_tokens", bucketWidth = 64L, batchSize = 32)
      graft.core.Packing.batchPadding(assign)
        .select(col("bucket"), col("batch"), col("n_docs"),
          col("max_len"), col("sum_len"), col("pad_waste"))
    }),

    // manifest-level bloom file skipping: point lookups on a key
    // scattered across every file (all min/max ranges span the whole
    // id space — the layout where range stats prune NOTHING) open only
    // the files whose manifest bloom might contain the key, decided at
    // plan time with zero file opens; correctness bar = never skip a
    // file that contains the key, which the plain-filter oracle checks
    "q122_bloom_point_lookup" -> ((s, dir) => {
      val t = scratchDir("graft_q122") + "/docs"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.SnapshotTable.appendBloomIndexed(
        docs.repartitionByRange(8, pmod(col("doc_id"), lit(8))),
        t, Seq("doc_id"), bloomBits = 8192, bloomK = 4)
      Seq(11L, 137L, 263L, 389L).map { k =>
        graft.sources.SnapshotTable.read(s, t,
            probes = Seq(graft.sources.SnapshotTable.ColProbe("doc_id", k)))
          .filter(col("doc_id") === k)
      }.reduce(_ unionByName _)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // rank-ensemble quality blend (the FineWeb recipe): three exact
    // integer signals (token count, stopword share, alpha share),
    // each contributing its GLOBAL corpus rank; the blend is the rank
    // sum — scale-free ensembling where raw-score blending would let
    // one hot signal dominate. Ranks come from the two-phase prefix
    // rank, never a global window
    "q123_rank_ensemble" -> ((s, dir) => {
      val t = TextAnalysis.tokens(col("text"))
      val stopArr = array(TextAnalysis.StopWords.map(lit): _*)
      val sig = Tables.documents(s, dir)
        .withColumn("n_toks", size(t).cast("long"))
        .withColumn("n_stop",
          size(filter(t, tok => array_contains(stopArr, tok))).cast("long"))
        .withColumn("n_alpha",
          length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
        .withColumn("n_c", length(col("text")).cast("long"))
        .select(col("doc_id"),
          col("n_toks").as("s_len"),
          expr("n_stop * 1000000L DIV n_toks").as("s_stop_micro"),
          expr("n_alpha * 1000000L DIV greatest(n_c, 1L)").as("s_alpha_micro"))
      graft.core.Sampling.rankEnsemble(sig, "doc_id",
        Seq("s_len", "s_stop_micro", "s_alpha_micro"))
    }),

    // WordPiece greedy longest-match encode against the fixed vocab
    // (the second tokenizer family next to BPE: segment top-down vs
    // replay merges bottom-up); the oracle pre-resolves the longest
    // match per (word, pos) relationally and replays the greedy walk
    // as a recursive CTE over those jumps — full segmentation pinned,
    // not just counts
    "q124_wordpiece_encode" -> ((s, dir) => {
      graft.core.Wordpiece.encode(
          Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("n_unk"), col("text_pieces"))
    }),

    // materialized-view rewrite: the daily aggregate WRITTEN OVER RAW
    // EVENTS is answered from the incrementally-maintained rollup
    // table — the optimizer substitutes the O(days) view for the
    // O(rows) scan (sameResult matching, the CacheManager principle).
    // The gate HARD-REQUIRES the rewrite to fire (otherwise the raw
    // aggregate would trivially equal the oracle and test nothing);
    // the shared q117 oracle then proves the view answers EXACTLY
    "q125_rollup_rewrite" -> ((s, dir) => {
      val t = scratchDir("graft_q125") + "/rollup"
      val ev = Tables.events(s, dir)
      graft.sources.IncrementalRollup.upsertDaily(s,
        ev.filter(col("event_id") % 2 === 0), t)
      graft.sources.IncrementalRollup.upsertDaily(s,
        ev.filter(col("event_id") % 2 === 1), t)
      graft.plans.RollupRewrite.register(ev, t)
      if (!s.experimental.extraOptimizations
          .contains(graft.plans.RollupRewrite))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ graft.plans.RollupRewrite
      val q = ev.groupBy(to_date(col("ts")).as("d"))
        .agg(sum(floor(col("value") * lit(1000000.0)).cast("long"))
            .as("total_micro"),
          count(lit(1)).as("n"))
      val fired = q.queryExecution.optimizedPlan.collectLeaves().exists {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.inputFiles.exists(_.contains("graft_q125"))
            case _ => false
          }
        case _ => false
      }
      require(fired, "MV rewrite did not fire — the gate would be vacuous")
      q
    }),

    // sliding token-window chunking (RAG/embedding prep): 64-token
    // windows advancing by 48 (16-token overlap), provenance offsets
    // kept; fully declarative sequence->explode->slice
    "q126_chunk_windows" -> ((s, dir) => {
      TextAnalysis.chunkByTokens(Tables.documents(s, dir),
          "doc_id", "text", size = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("n_chunk_tokens"), col("chunk_text"))
    }),

    // T5-style span corruption: hash-seeded union-coverage spans,
    // contiguous masked runs replaced by per-doc <Xk> sentinels —
    // the corruption is a pure function of the data (portable
    // rolling hash of "id:pos"), so the oracle replays every mask
    "q127_span_corrupt" -> ((s, dir) => {
      TextAnalysis.spanCorrupt(Tables.documents(s, dir),
          "doc_id", "text", startPermille = 50, minSpan = 2,
          spanChoices = 3)
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
          col("n_spans"), col("corrupted_text"))
    }),

    // image augmentation (flip + center crop) through the REAL codec:
    // both transforms are pure integer index maps, so the oracle
    // composes the gradient-generator arithmetic through flip-then-
    // crop and the two PNG roundtrips are hash-pinned (the q116 bar)
    "q128_image_augment" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      val aug = graft.core.Multimodal.augmentImages(media, cropW = 4, cropH = 3)
      graft.core.Multimodal.imageGridFeatures(aug, k = 4)
        .select(col("media_id").as("doc_id"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // audio augmentation (time reverse) through the REAL WAV codec:
    // PCM is lossless, so the oracle composes the tone generator
    // through the index reversal — the q128 bar for the audio path
    "q129_audio_reverse" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeToneWavs(ids)
      val rev = graft.core.Multimodal.reverseAudio(media)
      graft.core.Multimodal.audioWindowFeatures(rev, k = 4)
        .select(col("media_id").as("doc_id"), col("dim"),
          round(col("feature"), 6).as("feature"))
    }),

    // voice-activity segmentation through the REAL WAV codec: frame
    // energies are integer-exact (Σ|s(t)| per 50-sample frame), the
    // threshold splits frames ~50/50 on this corpus, and consecutive
    // active frames merge gaps-and-islands style — per-doc windows
    // only, one exchange, every output column BIGINT
    "q130_audio_vad" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeToneWavs(ids)
      val en = graft.core.Multimodal.audioFrameEnergies(media, frameSize = 50)
      graft.core.Multimodal.vadSegments(en, threshold = 51000L)
        .select(col("media_id").as("doc_id"), col("seg_start"),
          col("seg_end"), col("n_frames"), col("seg_energy"))
    }),

    // IMAGE near-dup through the real codec: perceptual dHash (9x8
    // nearest resize -> integer luminance -> 64 difference bits), then
    // banded Hamming LSH — for maxDist<=3 the 4x16-bit banding is
    // LOSSLESS by pigeonhole, so this is the exact near-dup set while
    // shuffling 8-byte hashes, never pixels
    "q131_image_dhash_neardup" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      val hashes = graft.core.Multimodal.imageDHashes(media)
      graft.core.Multimodal.dhashNearDupPairs(hashes, maxDist = 3)
    }),

    // hard-negative mining for contrastive training: top-k most-
    // similar DIFFERENT-label vectors per anchor, with a semi-hard
    // similarity ceiling (0.35 sits inside this corpus's cross-label
    // cosine range, max 0.49 — the guard provably fires at the gate)
    "q132_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.core.Similarity.hardNegatives(
          emb.filter(col("vec_id") < 16), emb, k = 5, maxSim = 0.35)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

    // THIRD tokenizer family: unigram-LM (SentencePiece-style)
    // Viterbi-optimal segmentation under fixed integer piece scores —
    // exact BIGINT optimization, so the global argmax (which DISAGREES
    // with greedy longest-match on this corpus: "customer" ->
    // cust+omer, not custom+er) is engine-exact
    "q133_unigram_encode" -> ((s, dir) => {
      graft.core.Unigram.encode(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("score_total"), col("text_pieces"))
    }),

    // Matryoshka two-stage retrieval: coarse rank on the 16-dim
    // prefix (the compact index at scale), exact full-dim re-rank of
    // the 20 survivors only — both stages deterministic, so the
    // cascade is oracle-replayable end-to-end
    "q134_matryoshka_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.core.Similarity.matryoshkaTopK(
          emb.filter(col("vec_id") < 12), emb, k = 5, dTrunc = 16, cands = 20)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("cosine"))
    }),

    // SFT packing with loss masks: chat-template render -> prompt/
    // response token geometry -> fixed 128-token sequences via the
    // two-phase prefix sum, each slice carrying its trained sub-span
    // in in-sequence coordinates (loss_off -1 = prompt-only slice)
    "q135_sft_pack_masks" -> ((s, dir) => {
      graft.core.SftFormat.packedLossMasks(
        Tables.documents(s, dir), "doc_id", "text", seqLen = 128)
    }),

    // SOFT dedup: near-dup clusters reweighted (1e6 DIV size) instead
    // of dropped — each cluster contributes one expected copy per
    // epoch; exact BIGINT weights, q43's cluster machinery
    "q136_cluster_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      Dedup.clusterWeights(docs, "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("weight_micro"))
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

    // q131's LINEAR-SCALE path, itself hash-verified (the q94/q95
    // pattern): band buckets above 40 docs are dropped before the
    // self-join — on this corpus that removes exactly the 78-93-doc
    // identical-hash mega-groups (the 10x probe's quadratic source)
    // while every small-bucket near-dup survives
    "q139_dhash_neardup_capped" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      val hashes = graft.core.Multimodal.imageDHashes(media)
      graft.core.Multimodal.dhashNearDupPairs(hashes, maxDist = 3,
        maxBandSize = 40)
    }),

    // AUDIO near-dup: energy-delta fingerprints (64 bits of
    // frame-to-frame direction) through the real codec, deduped by
    // the SAME banded-Hamming join as images — one machinery, two
    // modalities
    "q140_audio_fingerprint_neardup" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeToneWavs(ids)
      val fps = graft.core.Multimodal.audioFingerprint64(media, frameSize = 6)
        .withColumnRenamed("fingerprint", "dhash")
      graft.core.Multimodal.dhashNearDupPairs(fps, maxDist = 3)
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

    // PMI collocation mining (phrase detection, the word2vec-phrases
    // preprocessing op): top-20 adjacent-token pairs by the EXACT
    // integer association score c_xy*N*1e6 DIV (c_x*c_y) — PMI's
    // monotone argument, so the ranking is log-free and BIGINT-exact;
    // min support 5 prunes noise before the rank. Bigrams built by a
    // per-doc higher-order transform (no self-join); three counts
    // shuffles, one bounded rank
    "q144_pmi_collocations" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(graft.core.TextAnalysis.tokens(col("text")).as("a"))
      val uni = toks.select(explode(col("a")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum("c").as("n_total"))
      val bi = toks.filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS w1, a[i+1] AS w2))"))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      val scored = bi
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_x"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_y"), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("score_micro",
          expr("c_xy * n_total * 1000000 DIV (c_x * c_y)"))
      // top-k FIRST (TakeOrderedAndProject), THEN rank the bounded 20:
      // the support-≥5 bigram table grows with the vocabulary, so the
      // previous unpartitioned rank window was a single-partition sort
      // of a vocab²-bounded table (the q96 shape; hash unchanged)
      scored.orderBy(desc("score_micro"), asc("w1"), asc("w2")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("score_micro"), asc("w1"), asc("w2"))))
        .select(col("rank").cast("long").as("rank"), col("w1"), col("w2"),
          col("c_xy"), col("score_micro"))
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

    // soft-dedup APPLIED: q136's cluster weights consumed by the
    // deterministic weighted Bernoulli draw (hash of id:epoch:seed
    // mod 1e6 < weight) — a size-k cluster keeps ~one expected member
    // this epoch, a different one next epoch; zero shuffles added
    "q146_weighted_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      val w = Dedup.clusterWeights(docs, "doc_id", pairs)
      Sampling.weightedSample(w, "doc_id", "weight_micro", epoch = 0)
        .select(col("doc_id"), col("cluster_id"), col("weight_micro"),
          col("u_micro"))
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

    // column profiling card (the data-quality report every engine
    // ships): per column — rows, nulls, distinct non-nulls, and the
    // deterministic top value ((count DESC, value ASC) rank 1). One
    // aggregate pass per column over a string-cast projection; the
    // per-column plans are independent scans Catalyst can prune to
    // single columns
    "q148_column_profile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      Seq("lang", "source", "n_chars").map { c =>
        val vals = docs.select(col(c).cast("string").as("v"))
        val stats = vals.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col("v")).as("n_distinct"))
        val w = Window.orderBy(desc("cnt"), asc("v"))
        val top = vals.filter(col("v").isNotNull)
          .groupBy("v").agg(count(lit(1)).as("cnt"))
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
          .select(col("v").as("top_value"), col("cnt").as("top_count"))
        stats.crossJoin(top).select(lit(c).as("column"), col("n_rows"),
          col("n_nulls"), col("n_distinct"), col("top_value"),
          col("top_count"))
      }.reduce(_ unionByName _)
    }),

    // greedy bigram-LM decode (model-as-table generation, the LM
    // sanity-check op): next(w) = argmax successor by (count DESC,
    // token ASC); every distinct token walks 10 greedy steps through
    // ten broadcast joins of the 31-row jump table — dead ends stay
    // put (path stops growing), cycles just repeat
    "q149_greedy_decode" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(graft.core.TextAnalysis.tokens(col("text")).as("a"))
      val bi = toks.filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS w1, a[i+1] AS w2))"))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      val wN = Window.partitionBy("w1").orderBy(desc("c_xy"), asc("w2"))
      val nextTok = bi.withColumn("r", row_number().over(wN))
        .filter(col("r") === 1)
        .select(col("w1").as("cur"), col("w2").as("nw"))
      val starts = toks.select(explode(col("a")).as("w")).distinct()
      var walk = starts.select(col("w").as("start_token"),
        col("w").as("cur"), col("w").as("gen_path"))
      for (_ <- 1 to 10) {
        walk = walk.join(broadcast(nextTok), Seq("cur"), "left")
          .withColumn("gen_path", when(col("nw").isNotNull,
            concat(col("gen_path"), lit(">"), col("nw")))
            .otherwise(col("gen_path")))
          .withColumn("cur", coalesce(col("nw"), col("cur")))
          .drop("nw")
      }
      walk.select(col("start_token"), col("gen_path"))
    }),

    // per-source corpus card (the dataset-datasheet row every corpus
    // release ships): docs, tokens, exact-dup count (keep-first over
    // the text hash), language count and majority language — one
    // text-keyed window + two grouped aggregates
    "q150_corpus_card" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val wDup = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      val flagged = docs
        .withColumn("n_toks",
          size(graft.core.TextAnalysis.tokens(col("text"))).cast("long"))
        .withColumn("dup", row_number().over(wDup) > 1)
      val stats = flagged.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_exact_dup"),
        countDistinct(col("lang")).as("n_langs"))
      val wTop = Window.partitionBy("source")
        .orderBy(desc("c"), asc("lang"))
      val topLang = docs.groupBy("source", "lang")
        .agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(wTop)).filter(col("r") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      stats.join(topLang, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_exact_dup"), col("n_langs"), col("top_lang"))
    }),

    // exact ROC-AUC of the heuristic quality score against the
    // is-English label (the stopword/trigram features ARE English
    // features, so the score is a real soft classifier for this
    // label): tied-pair counting over the micro-score lattice, all
    // BIGINT — the filter-audit number a gate ships with
    "q151_roc_auc" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Eval.rocAuc(scored,
        expr("CAST(round(quality_score * 1000000) AS BIGINT)"),
        col("lang") === "en")
    }),

    // language-ID confusion matrix vs the gold lang column: observed
    // (gold, pred) cells with counts and exact per-cell recall share
    "q152_langid_confusion" -> ((s, dir) => {
      val pred = TextAnalysis.langId(Tables.documents(s, dir), "text")
      Eval.confusion(pred, col("lang"), col("lang_pred"))
    }),

    // reliability bins of the quality score vs the is-English label:
    // 10 cells over [0.48, 0.58] (the corpus's observed score band, so
    // the gate exercises the whole grid), per-cell count / positives /
    // exact positive rate / score mass
    "q153_calibration_bins" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Eval.calibrationBins(scored,
        expr("CAST(round(quality_score * 1000000) AS BIGINT)"),
        col("lang") === "en", 480000L, 580000L, 10)
    }),

    // Cohen's kappa of language-ID vs gold — chance-corrected
    // multiclass agreement, exact integer kappa_micro
    "q154_cohen_kappa" -> ((s, dir) => {
      val pred = TextAnalysis.langId(Tables.documents(s, dir), "text")
      Eval.cohenKappa(pred, col("lang"), col("lang_pred"))
    }),

    // preference-pair construction (reward-model / DPO data prep):
    // per source the i-th best doc by quality paired with the i-th
    // worst, top quarter vs bottom quarter, score margin carried
    "q155_preference_pairs" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
        .withColumn("s_micro",
          expr("CAST(round(quality_score * 1000000) AS BIGINT)"))
      Sampling.preferencePairs(scored, "source", "s_micro", "doc_id", 4)
        .select(col("source"), col("pair_rank").cast("long").as("pair_rank"),
          col("chosen_id"), col("rejected_id"), col("chosen_s"),
          col("rejected_s"), col("margin_micro"))
    }),

    // curriculum phase assignment: global quality order (cleanest
    // first) split into 4 contiguous phases by the exact integer
    // identity (rank-1)*k DIV n — the two-phase distributed rank,
    // never a single-partition global window
    "q156_curriculum_phases" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
        .withColumn("s_micro",
          expr("CAST(round(quality_score * 1000000) AS BIGINT)"))
        .select("doc_id", "s_micro")
      Sampling.curriculumPhases(scored, "doc_id",
          Seq(col("s_micro").desc, col("doc_id").asc), 4)
        .select(col("doc_id"), col("s_micro"), col("rank"), col("phase"))
    }),

    // TextRank keywords: integer-exact PageRank (5 power iterations,
    // damping 85/100, every division a positive floor) over the
    // symmetrized adjacent-token graph — graph centrality as a
    // sequence of bounded equi-join + grouped-sum steps
    "q157_textrank" -> ((s, dir) =>
      GraphOps.textrankKeywords(Tables.documents(s, dir), "text", 5, 20)),

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

    // fuzzy entity linkage over the part catalog: rows collapse to
    // distinct names first (pairing runs entity x entity, never
    // row x row), block on the first name token, edit distance <= 4
    "q159_fuzzy_linkage" -> ((s, dir) =>
      Joins.fuzzyLinkPairs(Tables.load(s, dir, "part"), "p_name",
        split(col("entity"), " ").getItem(0), maxDist = 4)),

    // deterministic k-per-group sample: hash-rank by the portable
    // rolling hash of id:seed — reservoir-sampling guarantees plus
    // exact replayability (and a second gate through the native
    // RollingHash codegen expression)
    "q160_group_sample" -> ((s, dir) =>
      Sampling.kPerGroup(Tables.documents(s, dir), "source", "doc_id",
        k = 5, seed = 42L)),

    // Zipf frequency spectrum: frequency-of-frequencies of the corpus
    // vocabulary (how many types occur c times) — the corpus-stats
    // card power-law fits read from; two grouped aggs, counts only
    "q161_zipf_spectrum" -> ((s, dir) => {
      val uni = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      uni.groupBy("c")
        .agg(count(lit(1)).as("n_types"), min("w").as("example_token"))
        .select(col("c").as("occurrences"), col("n_types"),
          expr("c * n_types").as("n_tokens"), col("example_token"))
    }),

    // Unicode NFC normalization (native codegen expression over the
    // JDK normalizer): the corpus is re-derived in DECOMPOSED form
    // (every 'e' followed by combining acute U+0301), normalized, and
    // pinned against the directly-precomposed é text — composition
    // must shrink each e to one codepoint and land exactly on the
    // precomposed bytes, per document
    // (NB Spark's chr() is mod-256 — chr(769) is NOT U+0301 there, so
    // the combining mark is embedded as a literal on this side)
    "q162_nfc_normalize" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("replace(text, 'e', concat('e', '́'))").as("decomposed"),
          expr("replace(text, 'e', 'é')").as("precomposed"))
        .withColumn("nfc", TextAnalysis.nfcNormalize(col("decomposed")))
        .select(col("doc_id"),
          length(col("decomposed")).cast("long").as("n_decomposed"),
          length(col("nfc")).cast("long").as("n_nfc"),
          (col("nfc") === col("precomposed")).as("nfc_matches_precomposed"))),

    // vocabulary coverage curve: types ranked by frequency, exact
    // cumulative token-mass share per rank — the table a tokenizer's
    // vocab size is chosen from ("how many types cover 99%?"). The
    // output IS vocab-sized (1e8–1e9 types on web text), so rank+cum
    // go through the two-phase distributed prefix pass — never an
    // unpartitioned window; cum·1e6 through DECIMAL(38,0) (BIGINT
    // wraps past ~9.2e12 tokens)
    "q163_vocab_coverage" -> ((s, dir) => {
      val uni = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      graft.core.Packing.rankAndCumOrdered(uni, "c", Seq(desc("c"), asc("w")))
        .crossJoin(broadcast(uni.agg(sum("c").as("total"))))
        .select(col("rank"), col("w").as("token"), col("c"), col("cum"),
          expr("CAST(cum AS DECIMAL(38,0)) * 1000000 DIV total")
            .as("cum_share_micro"))
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

    // BPE id-stream decode roundtrip: encode under the fixed model,
    // invert the in-engine vocab numbering, decode the flat id stream
    // back (EndOfWord markers carry the word boundaries — no sidecar)
    // and pin decoded == whitespace-normalized original per doc
    "q166_bpe_decode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocabIds = Bpe.vocabFromCounts(
          Bpe.wordCounts(docs, "text"), FixedBpeModel)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val enc = Bpe.encodeIds(docs, "doc_id", "text", FixedBpeModel, vocabIds)
      Bpe.decodeIds(enc, "doc_id", "piece_ids", vocabIds)
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"), col("n_pieces"),
          size(filter(col("piece_ids"), i => i === -1L)).cast("long")
            .as("n_unk"),
          col("decoded"),
          (col("decoded") ===
            regexp_replace(trim(col("text")), "\\s+", " "))
            .as("roundtrip_ok"))
    }),

    // shingle containment — the ASYMMETRIC near-dup measure (quote /
    // sub-document copy detection): |A∩B| DIV |A| per direction,
    // exact integers, same inverted-index candidate machinery as q19
    "q167_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, thresholdMicro = 500000L)),

    // cross-source shared-boilerplate matrix (the dataset-card
    // leakage grid): per source pair, how many distinct 8-token
    // document OPENINGS appear in both — the shared-header/template
    // signal exact-text dedup misses; shuffles carry md5 hashes,
    // never text
    "q168_cross_source_dups" -> ((s, dir) => {
      val hs = Tables.documents(s, dir)
        .select(md5(concat_ws(" ",
          slice(TextAnalysis.tokens(col("text")), 1, 8))).as("h"),
          col("source"))
        .distinct()
      hs.as("a").join(hs.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_1"),
          col("b.source").as("source_2"))
        .agg(count(lit(1)).as("n_shared_openings"))
    }),

    // kNN leave-one-out label eval: each panel vector classified by
    // the majority label of its 5 exact cosine neighbors (vote DESC,
    // label ASC tie-break), accuracy per gold label — the
    // embedding-quality number an ANN index build ships with; fixed
    // query panel so cost grows linearly with the corpus (IVF is the
    // serving path)
    "q169_knn_label_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val nn = Similarity.cosineTopK(emb.filter(col("vec_id") < 200), emb,
        k = 5)
      val labels = emb.select(col("vec_id"), col("label").cast("long")
        .as("lbl"))
      val wv = Window.partitionBy("query_id")
        .orderBy(desc("votes"), asc("n_label"))
      val pred = nn
        .join(labels.select(col("vec_id").as("neighbor_id"),
          col("lbl").as("n_label")), "neighbor_id")
        .groupBy("query_id", "n_label").agg(count(lit(1)).as("votes"))
        .withColumn("r", row_number().over(wv)).filter(col("r") === 1)
        .select(col("query_id"), col("n_label").as("pred"))
      pred
        .join(labels.select(col("vec_id").as("query_id"),
          col("lbl").as("gold")), "query_id")
        .groupBy(col("gold"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("gold"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("gold").as("label"), col("n"), col("n_correct"),
          expr("n_correct * 1000000 DIV n").as("acc_micro"))
    }),

    // per-source MinHash signatures + pairwise estimated Jaccard —
    // the source-overlap matrix at sketch cost: each source collapses
    // to k=8 longs (one grouped min-agg over its shingle hashes), the
    // matrix is a cross of the source-bounded signature table
    "q170_source_minhash" -> ((s, dir) => {
      val sigs = Dedup.minhashSignatures(
        Tables.documents(s, dir).select(col("source"), col("text")),
        "source", "text", k = 8)
      val sigArr = array((0 until 8).map(i => col(s"mh_$i")): _*)
      val a = sigs.select(col("doc").as("source_1"), sigArr.as("sig_1"))
      val b = sigs.select(col("doc").as("source_2"), sigArr.as("sig_2"))
      a.crossJoin(b).filter(col("source_1") < col("source_2"))
        .withColumn("n_match", expr(
          """aggregate(sequence(0, 7), 0L, (acc, i) ->
            |  acc + CASE WHEN element_at(sig_1, i + 1)
            |                 = element_at(sig_2, i + 1)
            |             THEN 1L ELSE 0L END)""".stripMargin))
        .select(col("source_1"), col("source_2"), col("n_match"),
          expr("n_match * 1000000 DIV 8").as("est_jaccard_micro"))
    }),

    // semi-supervised label propagation: 25% of vectors lose their
    // label (vec_id % 4 = 0), the 5-NN graph + two majority-vote
    // rounds label them back; output carries gold so the gate pins
    // BOTH the mechanics and the recovered accuracy. The graph comes
    // from the IVF-ANN chain (corpus-proportional centroids, nProbe
    // 2), NOT brute force — per-query candidates stay bucket-bounded,
    // so graph construction is linear in the corpus (all-pairs
    // measured quadratic-unusable at the 10x probe)
    "q171_label_propagation" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val nn = Similarity.ivfTopK(emb, emb, centroids, k = 5, nProbe = 2)
      // the kNN subtree feeds every vote round AND the output join —
      // persist the 5n-row edge list or the bucketed scoring runs
      // once per consumer (the q80 stage-boundary discipline; the
      // consumer's Materialize.scope releases it)
      val edges = Materialize.persist(nn.select(col("query_id").as("v"),
        col("neighbor_id").as("u")))
      val seeds = emb.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("label").cast("long").as("l"))
      GraphOps.labelPropagate(edges, "v", "u", seeds, "vec_id", "l", 2)
        .join(Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label").cast("long").as("gold")),
          col("v") === col("vec_id"))
        .select(col("vec_id"), col("lbl").as("label_prop"), col("is_seed"),
          col("gold"), (col("lbl") === col("gold")).as("correct"))
    }),

    // split-leakage audit: near-dup pairs must not straddle
    // train/val/test — the check every hash split ships with (a
    // near-dup of a training doc inside test inflates eval); counts
    // per canonical split pair, leak rows flagged
    "q172_split_leakage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      val split = Sampling.hashSplit(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
      pairs
        .join(split.select(col("doc_id").as("doc_a"),
          col("split").as("split_a")), "doc_a")
        .join(split.select(col("doc_id").as("doc_b"),
          col("split").as("split_b")), "doc_b")
        .groupBy(least(col("split_a"), col("split_b")).as("split_1"),
          greatest(col("split_a"), col("split_b")).as("split_2"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaking", col("split_1") =!= col("split_2"))
    }),

    // near-dup cluster size histogram — the dedup stats card: how
    // much of the corpus sits in clusters of which size (the number
    // that justifies hard dedup vs soft reweighting)
    "q173_dup_cluster_histogram" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      Dedup.resolveSurvivors(docs, "doc_id", pairs)
        .groupBy(col("survivor_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          expr("cluster_size * n_clusters").as("n_docs"))
    }),

    // packing-parameter sweep: for candidate sequence lengths, the
    // numbers that pick one — sequence count, boundary-split document
    // count, tail padding; ONE two-phase offsets pass feeds every
    // candidate length (arithmetic only per L)
    "q174_packing_sweep" -> ((s, dir) => {
      val counted = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val offsets = Packing.offsetsBy(counted, "doc_id")
      Seq(256, 512, 1024).map { l =>
        offsets.agg(
          sum("n_tokens").as("total_tokens"),
          sum(when(expr(
            s"n_tokens > 0 AND tok_start DIV $l <> (tok_end - 1) DIV $l"),
            1L).otherwise(0L)).as("n_split_docs"))
          .select(lit(l.toLong).as("seq_len"), col("total_tokens"),
            expr(s"(total_tokens + ${l - 1}) DIV $l").as("n_seqs"),
            col("n_split_docs"),
            expr(s"((total_tokens + ${l - 1}) DIV $l) * $l - total_tokens")
              .as("tail_pad"))
      }.reduce(_ unionByName _)
    }),

    // exact dimension covariance/correlation matrix of the embedding
    // space — fixed-point BIGINT to the last step, correlation as one
    // correctly-rounded float division (feature-redundancy report)
    "q175_embedding_covariance" -> ((s, dir) =>
      Profile.covarianceMatrix(Tables.embeddings(s, dir), "embedding")),

    // in-engine PCA: top principal component of the correlation
    // matrix by 5 power iterations — float, but every matrix-vector
    // row and norm is an ORDERED fold, so the whole iteration lands
    // bit-identical in the oracle
    "q176_pca_power" -> ((s, dir) =>
      Profile.pcaTopComponent(Tables.embeddings(s, dir), "embedding",
        dim = 64, iters = 5)),

    // Gopher-style quality-rule battery (Rae et al. '21 §A1.1 shape):
    // per doc, each rule an integer-exact boolean — length bounds,
    // mean-word-length bounds by CROSS-MULTIPLICATION (3n <= chars <=
    // 10n: no float division anywhere), stopword floor, unique-word
    // floor, short-word ceiling — and the conjunction gate
    "q177_gopher_gate" -> ((s, dir) => {
      val t = TextAnalysis.tokens(col("text"))
      Tables.documents(s, dir)
        .withColumn("n_words", size(t).cast("long"))
        .withColumn("n_wchars",
          length(regexp_replace(col("text"), "\\s+", "")).cast("long"))
        .withColumn("n_stop", size(filter(t, w =>
          array_contains(array(TextAnalysis.StopWords.map(lit): _*), w)))
          .cast("long"))
        .withColumn("n_unique", size(array_distinct(t)).cast("long"))
        .withColumn("n_short",
          size(filter(t, w => length(w) === 1)).cast("long"))
        .withColumn("r_len",
          col("n_words") >= 30 && col("n_words") <= 100000)
        .withColumn("r_mwl",
          col("n_wchars") >= col("n_words") * 3
            && col("n_wchars") <= col("n_words") * 10)
        .withColumn("r_stop", col("n_stop") >= 2)
        .withColumn("r_uniq",
          expr("n_unique * 1000000 DIV n_words") >= 300000L)
        .withColumn("r_short", col("n_short") * 10 <= col("n_words"))
        .select(col("doc_id"), col("n_words"), col("n_wchars"),
          col("n_stop"), col("n_unique"), col("n_short"),
          col("r_len"), col("r_mwl"), col("r_stop"), col("r_uniq"),
          col("r_short"),
          (col("r_len") && col("r_mwl") && col("r_stop") && col("r_uniq")
            && col("r_short")).as("passes"))
    }),

    // per-source unigram entropy — the lexical-diversity card number:
    // H = Σ −p·ln p over each source's (bounded) vocabulary, summed
    // as an ORDERED fold over the token-sorted vocab so the ln/IEEE
    // chain replays exactly
    "q178_token_entropy" -> ((s, dir) => {
      val uni = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text")))
          .as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      uni.groupBy("source")
        .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
          expr("transform(sort_array(collect_list(struct(w, c))), " +
            "e -> e.c)").as("cs"))
        .select(col("source"), col("n_types"), col("n_tokens"),
          round(expr(
            """aggregate(cs, 0D, (a, c) ->
              |  a - (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
              |      * ln(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE)))"""
              .stripMargin), 6).as("entropy"))
    }),

    // per-source KL divergence from the corpus unigram distribution —
    // the "how far is this source's language from the mix" number
    // (DSIR's objective, reported instead of applied): add-one
    // smoothing over the CORPUS vocab so source-missing types
    // contribute, token-sorted ordered fold for the ln chain
    "q179_source_kl" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text")))
          .as("w"))
      val corpus = toks.groupBy("w").agg(count(lit(1)).as("cc"))
      val bySrc = toks.groupBy("source", "w").agg(count(lit(1)).as("sc"))
      val grid = corpus.crossJoin(
          toks.select("source").distinct())
        .join(bySrc, Seq("source", "w"), "left")
        .withColumn("sc", coalesce(col("sc"), lit(0L)))
      val tot = grid.groupBy("source")
        .agg(sum("sc").as("n_src"), sum("cc").as("n_corpus"),
          count(lit(1)).as("v"),
          expr("transform(sort_array(collect_list(struct(w, sc, cc))), " +
            "e -> struct(e.sc AS sc, e.cc AS cc))").as("cs"))
      tot.select(col("source"), col("n_src"), col("v"),
        round(expr(
          """aggregate(cs, 0D, (a, e) ->
            |  a + (CAST(e.sc + 1 AS DOUBLE) / CAST(n_src + v AS DOUBLE))
            |      * ln((CAST(e.sc + 1 AS DOUBLE) / CAST(n_src + v AS DOUBLE))
            |          / (CAST(e.cc + 1 AS DOUBLE) / CAST(n_corpus + v AS DOUBLE))))"""
            .stripMargin), 6).as("kl"))
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

    // TPC-H Q5-shape local-supplier volume: the six-way star join
    // (customer + orders + lineitem + supplier + nation + region)
    // with the LOCAL-supplier correlation (c_nationkey = s_nationkey)
    // — the classic join-order/broadcast test: three dims broadcast,
    // the two fact tables meet on one shuffled key
    "q181_local_supplier_volume" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
        .filter(expr("CAST(o_orderdate AS DATE) >= DATE '1996-01-01'")
          && expr("CAST(o_orderdate AS DATE) < DATE '1998-01-01'"))
      val cust = Tables.load(s, dir, "customer")
      val supp = Tables.load(s, dir, "supplier")
      val nat = Tables.load(s, dir, "nation")
      val reg = Tables.load(s, dir, "region")
        .filter(col("r_name") === "ASIA")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(expr("l_extendedprice * (1 - l_discount)")), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
    }),

    // TPC-H Q13-shape customer order-count distribution: LEFT OUTER
    // join (zero-order customers must survive) + two-level
    // aggregation — the first shuffles on c_custkey, the second is a
    // tiny distribution rollup. The priority filter belongs to the
    // JOIN side, not a WHERE, or the outer semantics collapse
    "q182_custdist" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q17-shape small-quantity revenue: "lineitems of this
    // brand's parts whose quantity is below 20% of the part's average
    // quantity" — the classic correlated scalar subquery, decorrelated
    // into a per-part aggregate joined back to the fact. The predicate
    // is CROSS-MULTIPLIED onto the integer lattice (quantities are
    // whole numbers, so 5*qty*n < sum is exact in both engines — no
    // float-average boundary to disagree on)
    "q183_small_qty_revenue" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val part = Tables.load(s, dir, "part")
        .filter(col("p_brand") === "Brand#23")
      // brand filter pushed BELOW the per-part aggregate: a part's
      // average only needs that part's lineitems, so restricting to
      // the brand's partkeys first shrinks both sides of the
      // decorrelation join ~25x
      val liBrand = li.join(broadcast(part),
        col("l_partkey") === col("p_partkey"))
      val avgq = liBrand.groupBy(col("l_partkey").as("a_partkey"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"),
          count(lit(1)).as("n_li"))
      liBrand.join(avgq, col("l_partkey") === col("a_partkey"))
        .filter(expr(
          "5 * CAST(l_quantity AS BIGINT) * n_li < sum_qty"))
        .agg(round(sum(col("l_extendedprice")), 2).as("total_revenue"),
          count(lit(1)).as("n_small"))
    }),

    // TPC-H Q14-shape promo revenue share: conditional aggregation
    // (the CASE-inside-sum ratio pattern) over one shipdate year; the
    // part dim broadcasts, so the whole query is ONE fact scan + a
    // single-row aggregate — no shuffle wider than the final combine
    "q184_promo_share" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(expr("CAST(l_shipdate AS DATE) >= DATE '1997-01-01'")
          && expr("CAST(l_shipdate AS DATE) < DATE '1998-01-01'"))
      val rev = expr("l_extendedprice * (1 - l_discount)")
      li.join(broadcast(Tables.load(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
            .as("pr"),
          sum(rev).as("tr"))
        .select(round(col("pr"), 2).as("promo_revenue"),
          round(col("tr"), 2).as("total_revenue"),
          round(col("pr") * lit(100) / col("tr"), 2).as("promo_share"))
    }),

    // TPC-H Q15-shape top supplier: the revenue "view" (per-supplier
    // quarter aggregate) self-thresholded by its own max — max-
    // equality via a broadcast one-row join, not a global sort. The
    // per-supplier sums round to cents BEFORE the max-compare so both
    // engines compare on the same lattice (the q01 round-after-sum
    // convention applied to a comparison)
    "q185_top_supplier" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(expr("CAST(l_shipdate AS DATE) >= DATE '1997-01-01'")
          && expr("CAST(l_shipdate AS DATE) < DATE '1997-04-01'"))
      val rev = li.groupBy(col("l_suppkey"))
        .agg(round(sum(expr("l_extendedprice * (1 - l_discount)")), 2)
          .as("total_rev"))
      val mx = rev.agg(max(col("total_rev")).as("mx"))
      rev.join(broadcast(mx), col("total_rev") === col("mx"))
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev"))
    }),

    // TPC-H Q19-shape disjunctive predicates: OR-of-ANDs mixing part
    // attributes (brand, size) with fact attributes (quantity) INSIDE
    // the join condition — the planner must still broadcast the dim
    // and evaluate the residual disjunction post-probe, never expand
    // to a cross product
    "q186_disjunctive_join" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val part = Tables.load(s, dir, "part")
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
          && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)
          && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 15)
          && col("l_quantity").between(20, 30))
      li.join(broadcast(part),
          col("l_partkey") === col("p_partkey") && cond)
        .agg(round(sum(expr("l_extendedprice * (1 - l_discount)")), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
    }),

    // TPC-H Q7-shape bilateral shipping volume: supplier nation ×
    // customer nation pairs for two years — nation joined TWICE under
    // different roles (both broadcast), the pair filter keeps only
    // the two directed lanes, grouping adds the shipment year
    "q187_nation_volume" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(expr("CAST(l_shipdate AS DATE) >= DATE '1996-01-01'")
          && expr("CAST(l_shipdate AS DATE) < DATE '1998-01-01'"))
      val ord = Tables.load(s, dir, "orders")
      val n1 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.load(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .filter(
          (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10") ||
          (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(expr("l_extendedprice * (1 - l_discount)")), 2)
          .as("volume"), count(lit(1)).as("n_items"))
    }),

    // TPC-H Q8-shape market share: one supplier nation's slice of a
    // region's order revenue per year — the conditional-aggregation
    // ratio GROUPED (q184's pattern + a dimension), nation joined in
    // both roles, region restricting the CUSTOMER side only
    "q188_market_share" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
        .filter(expr("CAST(o_orderdate AS DATE) >= DATE '1996-01-01'")
          && expr("CAST(o_orderdate AS DATE) < DATE '1998-01-01'"))
      val n1 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("n2_key"), col("n_regionkey"))
      val reg = Tables.load(s, dir, "region").filter(col("r_name") === "EUROPE")
      val rev = expr("l_extendedprice * (1 - l_discount)")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.load(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_5", rev).otherwise(lit(0.0)))
            .as("nr"),
          sum(rev).as("tr"),
          count(lit(1)).as("n_items"))
        .select(col("o_year"), col("n_items"),
          round(col("tr"), 2).as("total_revenue"),
          round(col("nr") * lit(100) / col("tr"), 2).as("mkt_share"))
    }),

    // TPC-H Q11-shape value concentration: parts whose revenue
    // exceeds a FRACTION OF THE GLOBAL TOTAL — the scalar-subquery
    // HAVING, decorrelated into a broadcast one-row threshold join.
    // Both the per-part values and the threshold round to cents
    // before the strict > so the comparison runs on the same lattice
    // in both engines
    "q189_part_concentration" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val rev = expr("l_extendedprice * (1 - l_discount)")
      val pv = li.groupBy(col("l_partkey"))
        .agg(round(sum(rev), 2).as("part_value"))
      val thr = li.agg(
        round(sum(rev) * lit(0.00075), 2).as("thr"))
      pv.crossJoin(broadcast(thr))
        .filter(col("part_value") > col("thr"))
        .select(col("l_partkey"), col("part_value"))
    }),

    // TPC-H Q22-shape dormant high-balance customers: above the
    // positive-balance average (broadcast scalar threshold) with NO
    // order in the trailing year (left-anti join), rolled up by
    // market segment — scalar subquery + anti join + aggregate in one
    // plan
    "q190_dormant_rich" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("thr"))
      val recent = Tables.load(s, dir, "orders")
        .filter(expr("CAST(o_orderdate AS DATE) >= DATE '2000-07-01'"))
        .select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("thr"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
    }),

    // TPC-H Q21-shape lone-fault supplier: in finished multi-supplier
    // orders, the supplier whose lines were the ONLY returned ones —
    // the EXISTS/NOT-EXISTS pair reformulated as one per-order
    // aggregate (n_supp ≥ 2, exactly one returning supplier) joined
    // back to the returning lines; numwait = distinct such orders per
    // supplier. Aggregation-based decorrelation scales where
    // correlated per-row subqueries cannot
    "q191_lone_return_supplier" -> ((s, dir) => {
      val ordF = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      val li = Tables.load(s, dir, "lineitem")
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
      val per = li.groupBy(col("l_orderkey").as("p_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("l_returnflag") === "R", col("l_suppkey")))
            .as("n_r"))
        .filter(col("n_supp") >= 2 && col("n_r") === 1)
      li.filter(col("l_returnflag") === "R")
        .join(per, col("l_orderkey") === col("p_orderkey"))
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(countDistinct(col("l_orderkey")).as("numwait"))
    }),

    // per-(source, rule) quality pass-rate matrix — the q177 Gopher
    // battery rolled up the way a dataset card reports it: which rule
    // gates which source. One codegen'd pass + a stack unpivot; the
    // matrix is sources × 5 rules = model-size output
    "q192_rule_source_matrix" -> ((s, dir) => {
      val t = TextAnalysis.tokens(col("text"))
      Tables.documents(s, dir)
        .withColumn("n_words", size(t).cast("long"))
        .withColumn("n_wchars",
          length(regexp_replace(col("text"), "\\s+", "")).cast("long"))
        .withColumn("n_stop", size(filter(t, w =>
          array_contains(array(TextAnalysis.StopWords.map(lit): _*), w)))
          .cast("long"))
        .withColumn("n_unique", size(array_distinct(t)).cast("long"))
        .withColumn("n_short",
          size(filter(t, w => length(w) === 1)).cast("long"))
        .withColumn("r_len",
          col("n_words") >= 30 && col("n_words") <= 100000)
        .withColumn("r_mwl",
          col("n_wchars") >= col("n_words") * 3
            && col("n_wchars") <= col("n_words") * 10)
        .withColumn("r_stop", col("n_stop") >= 2)
        .withColumn("r_uniq",
          expr("n_unique * 1000000 DIV n_words") >= 300000L)
        .withColumn("r_short", col("n_short") * 10 <= col("n_words"))
        .selectExpr("source",
          """stack(5, 'r_len', r_len, 'r_mwl', r_mwl, 'r_stop', r_stop,
            |'r_uniq', r_uniq, 'r_short', r_short) AS (rule, pass)"""
            .stripMargin)
        .groupBy(col("source"), col("rule"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
        .withColumn("pass_micro", expr("n_pass * 1000000 DIV n_docs"))
    }),

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

    // event-type co-occurrence similarity (the item-item similarity
    // of a recommender): each type as a user-indexed count vector,
    // pairwise dot products by one self-join on user (per-user fanout
    // bounded by the type alphabet), cosine = ONE correctly-rounded
    // sqrt/division over exact BIGINT sufficient statistics
    "q197_cooccurrence_sim" -> ((s, dir) => {
      val uc = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val a = uc.select(col("user_id"), col("event_type").as("type_1"),
        col("c").as("c1"))
      val b = uc.select(col("user_id"), col("event_type").as("type_2"),
        col("c").as("c2"))
      val dots = a.join(b, Seq("user_id"))
        .filter(col("type_1") < col("type_2"))
        .groupBy(col("type_1"), col("type_2"))
        .agg(sum(expr("c1 * c2")).as("dot"),
          count(lit(1)).as("n_users"))
      val norms = uc.groupBy(col("event_type"))
        .agg(sum(expr("c * c")).as("nsq"))
      dots
        .join(broadcast(norms.select(col("event_type").as("type_1"),
          col("nsq").as("nsq1"))), "type_1")
        .join(broadcast(norms.select(col("event_type").as("type_2"),
          col("nsq").as("nsq2"))), "type_2")
        .select(col("type_1"), col("type_2"), col("n_users"), col("dot"),
          round(col("dot") / (sqrt(col("nsq1").cast("double"))
            * sqrt(col("nsq2").cast("double"))), 6).as("cosine"))
    }),

    // CHECK-constraint write gate on the snapshot table (the Delta
    // invariant contract): a constrained scratch table takes the
    // valid slice, REJECTS the violating batch atomically (the
    // exception is the assertion — a landed row would change the
    // counts), takes another valid batch after the rejection, and
    // reports the final state. The oracle reproduces the surviving
    // rows relationally: exactly the two valid slices
    "q199_constraint_gate" -> ((s, dir) => {
      val t = scratchDir("graft_q199") + "/t"
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
      val first = li.filter(col("l_orderkey") % 3 === 0)
      graft.sources.SnapshotTable.append(first, t)
      graft.sources.SnapshotTable.addConstraint(s, t, "qty_pos",
        "l_quantity > 0")
      val bad = li.filter(col("l_orderkey") % 3 === 1)
        .withColumn("l_quantity", col("l_quantity") * -1)
      try {
        graft.sources.SnapshotTable.append(bad, t)
        throw new IllegalStateException(
          "constraint gate FAILED to reject a violating batch")
      } catch {
        case e: IllegalArgumentException
          if e.getMessage.contains("qty_pos") => () // rejected: correct
      }
      graft.sources.SnapshotTable.append(
        li.filter(col("l_orderkey") % 3 === 2), t)
      graft.sources.SnapshotTable.read(s, t)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"))
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

    // CDC replication lifecycle in-gate: source table built in two
    // commits, replica bootstrapped through the change-feed sync
    // (exactly-once via the txn watermark), then one atomic CDC MERGE
    // batch (disjoint U/D/I slices) applied to the replica; the final
    // aggregate is the relational disposition of the same slices. A
    // re-run of sync inside the query must be a no-op (the watermark
    // assertion is the exception path — a double-apply would change
    // the sums)
    "q205_cdc_replication" -> ((s, dir) => {
      val base = scratchDir("graft_q205")
      val src = base + "/src"
      val rep = base + "/rep"
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.SnapshotTable.append(
        ord.filter(col("o_orderkey") % 2 === 0), src)
      graft.sources.SnapshotTable.append(
        ord.filter(col("o_orderkey") % 2 === 1), src)
      val wid = "replica:q205"
      require(graft.sources.Replication.sync(s, src, rep, wid).isDefined)
      require(graft.sources.Replication.sync(s, src, rep, wid).isEmpty,
        "replayed sync must be a no-op")
      val u = ord.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("_op", lit("U"))
      val d = ord.filter(col("o_orderkey") % 97 === 1)
        .withColumn("_op", lit("D"))
      val i = ord.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(90000000L))
        .withColumn("_op", lit("I"))
      graft.sources.Replication.applyCdc(s, rep,
        u.unionByName(d).unionByName(i), "o_orderkey")
      graft.sources.SnapshotTable.read(s, rep)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
    }),

    // mergeable HLL distinct-count rollup (datasketches pattern):
    // daily user-day registers PERSISTED to a snapshot table in two
    // incremental commits (the daily job), then an ad-hoc 15-day
    // range distinct resolved entirely from the register table —
    // 128 integers per (type, day), never a raw re-scan. Registers
    // and estimate are integer/dyadic arithmetic on the portable
    // avalanched hash, so DuckDB replays the whole sketch exactly;
    // the exact count is joined alongside (the accuracy audit HLL
    // dashboards ship)
    "q206_hll_sketch_rollup" -> ((s, dir) => {
      val tbl = scratchDir("graft_q206") + "/reg"
      val lo = lit(java.sql.Date.valueOf("2024-01-08"))
      val hi = lit(java.sql.Date.valueOf("2024-01-22"))
      val ev = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          col("user_id"))
        .withColumn("key", concat(col("user_id").cast("string"),
          lit(":"), col("d").cast("string")))
      val daily = Sketches.hllRegisters(ev, col("key"),
        Seq("event_type", "d"))
      val mid = lit(java.sql.Date.valueOf("2024-01-16"))
      graft.sources.SnapshotTable.append(daily.filter(col("d") < mid), tbl)
      graft.sources.SnapshotTable.append(daily.filter(col("d") >= mid), tbl)
      val ranged = graft.sources.SnapshotTable.read(s, tbl)
        .filter(col("d").between(lo, hi))
      val est = Sketches.hllEstimate(ranged, Seq("event_type"))
      val exact = ev.filter(col("d").between(lo, hi))
        .groupBy("event_type")
        .agg(countDistinct(col("key")).as("exact_user_days"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("active_buckets"),
          round(col("hll_estimate"), 4).as("hll_user_days"),
          col("exact_user_days"))
    }),

    // exact triangle census of the part co-purchase graph: edges =
    // part pairs sharing >= 2 orders (support threshold bounds the
    // graph at any scale — a thr-1 pair graph explodes with the
    // corpus), triangles by degree-ordered orientation (hub fan-out
    // capped at O(sqrt E), every triangle counted once at its min-
    // degree vertex); wedges + global clustering coefficient beside
    "q207_triangle_census" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      GraphOps.triangleStats(edges, "a", "b")
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          expr("3 * n_triangles * 1000000 DIV greatest(n_wedges, 1L)")
            .as("global_cc_micro"))
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

    // generated columns in-gate: o_month is GENERATED ALWAYS AS
    // month(o_orderdate) — registered on the empty table, then two
    // writer commits that never compute it; the table stamps it, the
    // manifest carries its stats, and the readback groups by a column
    // no writer ever supplied. The relational answer is just the
    // month rollup of orders
    "q209_generated_columns" -> ((s, dir) => {
      val t = scratchDir("graft_q209") + "/t"
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      graft.sources.SnapshotTable.create(t, ord.schema)
      graft.sources.SnapshotTable.addGeneratedColumn(
        s, t, "o_month", "month(o_orderdate)")
      graft.sources.SnapshotTable.append(
        ord.filter(col("o_orderkey") % 2 === 0), t)
      graft.sources.SnapshotTable.append(
        ord.filter(col("o_orderkey") % 2 === 1), t)
      graft.sources.SnapshotTable.read(s, t)
        .groupBy(col("o_month").cast("long").as("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
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

    // mergeable histogram-quantile rollup — q206's pattern for
    // percentiles: per-(type, day) equi-width histograms (FIXED
    // domain [0,1000) x 250 bins — fixed edges are what make daily
    // sketches mergeable; a data-dependent domain wouldn't be) in a
    // snapshot table, a 15-day range p50/p90/p99 answered from merged
    // bin counts with integer within-bin interpolation, and the exact
    // order statistic (q142 lattice discipline) joined alongside as
    // the error audit — error bounded by bin width, never a raw
    // re-scan
    "q211_histogram_quantile_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tbl = scratchDir("graft_q211") + "/hist"
      val lo = lit(java.sql.Date.valueOf("2024-01-08"))
      val hi = lit(java.sql.Date.valueOf("2024-01-22"))
      val mid = lit(java.sql.Date.valueOf("2024-01-16"))
      val ev = Tables.events(s, dir).select(col("event_type"),
        to_date(col("ts")).as("d"),
        expr("CAST(floor(value * 1000000.0) AS BIGINT)").as("vm"))
      val daily = ev
        .withColumn("bin", least(expr("vm DIV 4000000L"), lit(249L)))
        .groupBy("event_type", "d", "bin").agg(count(lit(1)).as("cnt"))
      graft.sources.SnapshotTable.append(daily.filter(col("d") < mid), tbl)
      graft.sources.SnapshotTable.append(daily.filter(col("d") >= mid), tbl)
      val merged = graft.sources.SnapshotTable.read(s, tbl)
        .filter(col("d").between(lo, hi))
        .groupBy("event_type", "bin").agg(sum("cnt").as("cnt"))
      val wc = Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = merged.withColumn("cum", sum("cnt").over(wc))
        .withColumn("total",
          sum("cnt").over(Window.partitionBy("event_type")))
      import s.implicits._
      val pcts = Seq(50L, 90L, 99L).toDF("pct")
      val hist = cum.crossJoin(pcts)
        .withColumn("r", expr("(total * pct + 99L) DIV 100L"))
        .filter(col("cum") >= col("r"))
        .groupBy("event_type", "pct")
        .agg(min(struct(col("bin"), col("cum"), col("cnt"), col("r"),
          col("total"))).as("s"))
        .select(col("event_type"), col("pct"),
          expr("s.bin * 4000000L + (s.r - (s.cum - s.cnt)) * 4000000L " +
            "DIV s.cnt").as("hist_p_micro"),
          col("s.total").as("n_obs"))
      val raw = ev.filter(col("d").between(lo, hi))
        .groupBy("event_type", "vm").agg(count(lit(1)).as("c"))
      val wv = Window.partitionBy("event_type").orderBy("vm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val exact = raw.withColumn("cum", sum("c").over(wv))
        .withColumn("total", sum("c").over(Window.partitionBy("event_type")))
        .crossJoin(pcts)
        .filter(col("cum") * 100 >= col("total") * col("pct"))
        .groupBy("event_type", "pct").agg(min("vm").as("exact_p_micro"))
      hist.join(exact, Seq("event_type", "pct"))
        .select(col("event_type"), col("pct"), col("hist_p_micro"),
          col("exact_p_micro"), col("n_obs"))
    }),

    // Bradley-Terry strengths from pairwise battles (the RLHF /
    // chatbot-arena ranking model): rank-matched cross-source doc
    // duels (rank r of source A vs rank r of source B — LINEAR in
    // docs, unlike all-pairs), winner by quality score; 5 MM
    // iterations (Hunter) s_i <- W_i / sum_j n_ij/(s_i+s_j) in pico-
    // per-micro BIGINT with floor DIV — unnormalized in-loop (drift
    // bounded by 2^5, every intermediate < 2^63), normalized to
    // sum = items x 1e6 only at output; the battle matrix is
    // model-size (|sources|^2), so the fold is one driver-free row
    "q212_bradley_terry" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis.qualityScore(
          Tables.documents(s, dir), "text")
        .withColumn("sm",
          expr("CAST(round(quality_score * 1000000) AS BIGINT)"))
        .withColumn("r", row_number().over(Window.partitionBy("source")
          .orderBy(col("sm").desc, col("doc_id").asc)))
        .select(col("source"), col("r"), col("sm"), col("doc_id"))
      val battles = scored.as("a").join(scored.as("b"),
          col("a.r") === col("b.r") && col("a.source") < col("b.source"))
        .select(col("a.source").as("sa"), col("b.source").as("sb"),
          (col("a.sm") > col("b.sm") ||
            (col("a.sm") === col("b.sm") &&
              col("a.doc_id") < col("b.doc_id"))).cast("long").as("wa"))
      val matrix = battles.groupBy("sa", "sb")
        .agg(count(lit(1)).as("n"), sum("wa").as("w"))
      val edges = matrix.select(col("sa").as("i"), col("sb").as("j"),
          col("n"), col("w"))
        .unionByName(matrix.select(col("sb").as("i"), col("sa").as("j"),
          col("n"), (col("n") - col("w")).as("w")))
      val perItem = edges.groupBy(col("i").as("source"))
        .agg(sum("w").as("n_wins"), sum("n").as("n_battles"))
      val folded = edges
        .agg(collect_list(struct(col("i"), col("j"), col("n"), col("w")))
          .as("edges"),
          sort_array(collect_set(col("i"))).as("items"))
        .select(col("items"), expr(
          """aggregate(sequence(1, 5),
            |  transform(items, x -> 1000000L),
            |  (s, k) -> transform(items, x ->
            |    aggregate(filter(edges, e -> e.i = x), 0L,
            |      (a, e) -> a + e.w) * 1000000000000L
            |    DIV greatest(
            |      aggregate(filter(edges, e -> e.i = x), 0L, (a, e) ->
            |        a + e.n * 1000000000000L DIV greatest(
            |          element_at(s, CAST(array_position(items, e.i) AS INT))
            |          + element_at(s, CAST(array_position(items, e.j) AS INT)),
            |          1L)), 1L)))""".stripMargin).as("sv"))
        .select(explode(arrays_zip(col("items"), col("sv"))).as("z"),
          expr("aggregate(sv, 0L, (a, b) -> a + b)").as("stot"),
          size(col("items")).as("ni"))
        .select(col("z.items").as("source"),
          expr("z.sv * (ni * 1000000L) DIV greatest(stot, 1L)")
            .as("bt_micro"))
      folded.join(perItem, "source")
        .select(col("source"), col("n_wins"), col("n_battles"),
          col("bt_micro"))
    }),

    // TPC-H Q3-shape shipping priority: segment-filtered customers ×
    // pre-cutoff orders × post-cutoff lineitems, revenue per order,
    // top 10 — the classic date-straddle join. Both date filters push
    // to their scans; the LIMIT runs as TakeOrderedAndProject (heap
    // per partition, never a global sort of the aggregate). Rounded
    // cents before the cut + (date, orderkey) tie-break keep the
    // selected SET engine-portable
    "q213_shipping_priority" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.load(s, dir, "orders")
        .filter(expr("CAST(o_orderdate AS DATE) < DATE '1997-06-15'"))
      val li = Tables.load(s, dir, "lineitem")
        .filter(expr("CAST(l_shipdate AS DATE) > DATE '1997-06-15'"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          expr("CAST(o_orderdate AS DATE)").as("o_date"),
          col("o_orderpriority"))
        .agg(round(sum(expr("l_extendedprice * (1 - l_discount)")), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_date").asc,
          col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q4-shape priority check: orders of one quarter with at
    // least one lineitem shipped AFTER the order date — the
    // correlated EXISTS, decorrelated into a LEFT SEMI join whose
    // condition spans both sides (key equality + the inequality as a
    // residual). The semi join never duplicates an order no matter
    // how many lines qualify — the property the naive inner-join+
    // distinct formulation pays a second shuffle to recover
    "q214_priority_exists" -> ((s, dir) => {
      val ord = Tables.load(s, dir, "orders")
        .filter(expr("CAST(o_orderdate AS DATE) >= DATE '1997-01-01'")
          && expr("CAST(o_orderdate AS DATE) < DATE '1997-04-01'"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li, col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // TPC-H Q10-shape returned-item report: revenue lost to returns
    // per customer over one quarter, top 20 — the two-fact join
    // (customer⋈orders shuffles on custkey, ⋈lineitem on orderkey)
    // with the nation dim broadcast. Return-flag and date filters
    // both reach their scans
    "q215_returned_customers" -> ((s, dir) => {
      val ord = Tables.load(s, dir, "orders")
        .filter(expr("CAST(o_orderdate AS DATE) >= DATE '1997-01-01'")
          && expr("CAST(o_orderdate AS DATE) < DATE '1997-04-01'"))
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
      val nat = Tables.load(s, dir, "nation")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(expr("l_extendedprice * (1 - l_discount)")), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // TPC-H Q18-shape large-volume orders: orders whose total
    // quantity exceeds 300 — the HAVING subquery realized as a
    // per-order aggregate that feeds BOTH the filter and the output
    // (one lineitem scan; qualifying keys then join customer and
    // orders). Quantities are whole numbers, so the threshold
    // compares on exact BIGINTs
    "q216_big_orders" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("total_qty"))
        .filter(col("total_qty") > 300)
      big.join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          expr("CAST(o_orderdate AS DATE)").as("o_date"),
          round(col("o_totalprice"), 2).as("o_price"), col("total_qty"))
    }),

    // TPC-H Q12-shape priority class split: per lineitem status, how
    // many shipments of one year belong to high- vs low-priority
    // orders — conditional counts after an orderkey join whose dim
    // side is the FILTERED fact year (the shipdate filter pushes to
    // the lineitem scan; orders carries only key + priority)
    "q217_priority_class" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(expr("CAST(l_shipdate AS DATE) >= DATE '1997-01-01'")
          && expr("CAST(l_shipdate AS DATE) < DATE '1998-01-01'"))
        .select(col("l_orderkey"), col("l_linestatus"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val hi = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(hi, lit(1L)).otherwise(lit(0L))).as("high_count"),
          sum(when(hi, lit(0L)).otherwise(lit(1L))).as("low_count"))
    }),

    // interpolated Kneser-Ney bigram LM (the tokenizer-/LM-quality
    // smoothing standard, vs q68's add-one): discount d = 3/4 keeps
    // every term RATIONAL, so the whole table is exact fixed-point —
    // p_kn(w2|w1) = max(c12−d,0)/c1 + d·N1+(w1·)/c1 · N1+(·w2)/T,
    // all four statistics from ONE bigram-type table (c12; c1/N1+(w1·)
    // per w1; N1+(·w2) per w2; T = type count). Output bounded by
    // observed bigram types (vocab², model-size)
    "q204_kneser_ney" -> ((s, dir) => {
      val pairs = Tables.documents(s, dir)
        .select(explode(TextAnalysis.ngramsAll(col("text"), 2)).as("bg"))
        .filter(size(split(col("bg"), " ")) === 2)
        .select(split(col("bg"), " ").getItem(0).as("w1"),
          split(col("bg"), " ").getItem(1).as("w2"))
      val b = pairs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val perW1 = b.groupBy(col("w1").as("a_w1"))
        .agg(sum("c12").as("c1"), count(lit(1)).as("n1fw"))
      val perW2 = b.groupBy(col("w2").as("b_w2"))
        .agg(count(lit(1)).as("n1pw"))
      val t = b.agg(count(lit(1)).as("tt"))
      b.join(broadcast(perW1), col("w1") === col("a_w1"))
        .join(broadcast(perW2), col("w2") === col("b_w2"))
        .crossJoin(broadcast(t))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          col("n1fw"), col("n1pw"),
          expr("""(4 * c12 - 3) * 1000000 DIV (4 * c1)
            | + 3 * n1fw * n1pw * 1000000 DIV (4 * c1 * tt)"""
            .stripMargin).as("p_kn_micro"))
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

    // leave-one-out n-gram novelty: the share of a doc's distinct
    // 8-grams that appear in NO other document — the text-uniqueness
    // signal between exact dup (0) and fully-novel (1e6). One explode
    // + two grouped counts, all linear; exact integer micro share
    "q202_ngram_novelty" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(Dedup.shingles(col("text"), 8)).as("g"))
      val df8 = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      sh.join(df8, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novel_micro",
          expr("n_novel * 1000000 DIV n_grams"))
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

    // embedding outlier audit: each vector's cosine to its own
    // label's micro-lattice centroid (exact integer per-dim means;
    // the cosine is the q25 ordered fold), micro-rounded, then a
    // 2σ flag from exact integer sufficient statistics — |n·x − Σx|
    // vs 2·√(n·Σx² − (Σx)²) keeps the mean subtraction and the
    // variance integer-exact (no float accumulation), with one
    // correctly-rounded sqrt at the end. The pre-index hygiene scrub
    "q198_embedding_outliers" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cent = emb
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(expr("CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)"))
          .as("sv"), count(lit(1)).as("n"))
        .withColumn("c_d", expr("CAST(sv DIV n AS DOUBLE)"))
        .groupBy(col("label"))
        .agg(expr("transform(sort_array(collect_list(struct(dim, c_d))), " +
          "e -> e.c_d)").as("cvec"))
      val scored = emb.join(broadcast(cent), "label")
        .withColumn("cos",
          Similarity.dot(col("embedding"), col("cvec"))
            / (Similarity.norm(col("embedding"))
              * Similarity.norm(col("cvec"))))
        .select(col("label"), col("vec_id"),
          expr("CAST(round(cos * 1000000.0) AS BIGINT)").as("c_micro"))
      val stats = scored.groupBy(col("label").as("s_label"))
        .agg(count(lit(1)).as("n"), sum("c_micro").as("sx"),
          sum(expr("c_micro * c_micro")).as("sxx"))
      scored.join(broadcast(stats), col("label") === col("s_label"))
        .select(col("label"), col("vec_id"), col("c_micro"),
          (abs(col("n") * col("c_micro") - col("sx")).cast("double")
            > lit(2.0) * sqrt((col("n") * col("sxx")
              - col("sx") * col("sx")).cast("double"))).as("is_outlier"))
    }),

    // Benford first-digit audit of order totals — the forensic
    // data-quality stat (fabricated/capped columns fail it). Dense
    // 1–9 digit grid, exact micro shares, expectation as fixed micro
    // literals (no runtime log10). All BIGINT
    "q222_benford" -> ((s, dir) =>
      Profile.benford(Tables.load(s, dir, "orders"), col("o_totalprice"))),

    // two-proportion z-test over a deterministic 50/50 user hash
    // split — the A/B readout: arm from the portable-hash split (the
    // q60 machinery — reproducible across engines and reruns),
    // success = the user reached 5 purchases. Corpus collapses to 4
    // exact BIGINTs; z is ONE fixed float expression at the end
    // (every op IEEE-correctly-rounded → bit-identical replay)
    "q223_ab_ztest" -> ((s, dir) => {
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("n_purch"))
      val armed = Sampling.hashSplit(
        users, "user_id", Seq(("a", 0.5), ("b", 0.5)))
      Eval.twoProportionZ(armed, col("split"),
        col("n_purch") >= 5, "a", "b")
    }),

    // KMV/theta sketch source-overlap matrix — the set-OPERATION
    // sketch next to q206's union-only HLL: per event type the k=64
    // smallest distinct avalanched user-day hashes, built as TWO
    // incremental snapshot-table commits (split at the date midpoint),
    // merged by distinct + re-bottom-k (mergeability is the point),
    // then pairwise union/INTERSECTION estimates — below
    // θ = min(θ_a, θ_b) each sketch holds every distinct hash of its
    // set, so common-below-θ counts are exact on the sample. Exact
    // audit joined alongside. All BIGINT floor arithmetic
    "q218_theta_overlap" -> ((s, dir) => {
      val k = 64
      val tbl = scratchDir("graft_q218") + "/sk"
      val ev = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          concat(col("user_id").cast("string"), lit(":"),
            to_date(col("ts")).cast("string")).as("key"))
      val mid = lit(java.sql.Date.valueOf("2024-01-16"))
      graft.sources.SnapshotTable.append(
        Sketches.kmvSketch(ev.filter(col("d") < mid), col("key"),
          Seq("event_type"), k), tbl)
      graft.sources.SnapshotTable.append(
        Sketches.kmvSketch(ev.filter(col("d") >= mid), col("key"),
          Seq("event_type"), k), tbl)
      val merged = Sketches.kmvMerge(
        graft.sources.SnapshotTable.read(s, tbl), Seq("event_type"), k)
      val est = Sketches.kmvPairOverlap(merged, "event_type", k)
      val keys = ev.select(col("event_type").as("g"), col("key")).distinct()
      val exN = keys.groupBy("g").agg(count(lit(1)).as("n_ex"))
      // exact pairwise intersection via collect-groups-per-key + the
      // PairCombinations generator (the coPurchaseEdges shape): the
      // self-equi-join planned the distinct-keys lineage twice; group
      // membership per key is alphabet-bounded, pairs come out
      // g_a < g_b from the sorted struct array exactly like the old
      // x.g < y.g predicate — identical counts, same oracle
      val exInt = keys.groupBy("key")
        .agg(sort_array(collect_list(struct(col("g")))).as("gs"))
        .filter(size(col("gs")) > 1)
        .select(org.apache.spark.sql.GraftShim.column(
          graft.expressions.PairCombinations(
            org.apache.spark.sql.GraftShim.expression(col("gs"))))
          .as(Seq("g_a", "g_b")))
        .groupBy("g_a", "g_b")
        .agg(count(lit(1)).as("exact_intersect"))
      est
        .join(exInt, Seq("g_a", "g_b"), "left")
        .join(broadcast(exN.withColumnRenamed("g", "g_a")
          .withColumnRenamed("n_ex", "n_ex_a")), Seq("g_a"))
        .join(broadcast(exN.withColumnRenamed("g", "g_b")
          .withColumnRenamed("n_ex", "n_ex_b")), Seq("g_b"))
        .select(col("g_a"), col("g_b"), col("est_a"), col("est_b"),
          col("union_est"), col("intersect_est"),
          (col("n_ex_a") + col("n_ex_b")
            - coalesce(col("exact_intersect"), lit(0L))).as("exact_union"),
          coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
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

    // per-source ROC-AUC of the quality score vs the is-English label:
    // the slice audit a corpus-wide AUC hides (q151's tied-pair
    // arithmetic, group-partitioned lattice windows)
    "q249_group_auc" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Eval.rocAucBy(scored, col("source"),
          expr("CAST(round(quality_score * 1000000) AS BIGINT)"),
          col("lang") === "en")
        .withColumnRenamed("grp", "source")
    }),

    // nDCG@10 of the q234 phrase-query BM25 panel against GRADED
    // relevance (2 = the query's source doc, 1 = same lang+source):
    // fixed-point per-position gains, ideal ranking from the full
    // relevance pool — the graded companion to MRR
    "q250_retrieval_ndcg" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val panel = (0L until 500L by 50L).toSeq
      val qdocs = d.filter(col("doc_id").isin(panel: _*))
        .filter(length(trim(col("text"))) > 0)
      val queries = qdocs.select(col("doc_id"), concat_ws(" ",
        slice(TextAnalysis.tokens(col("text")), 3, 16)).as("text"))
      val ranked = Retrieval.bm25TopK(d, queries, k = 10)
      val rel = d.select(col("doc_id"), col("lang"), col("source"))
        .join(broadcast(qdocs.select(col("doc_id").as("query_id"),
          col("lang"), col("source"))), Seq("lang", "source"))
        .select(col("query_id"), col("doc_id"),
          when(col("doc_id") === col("query_id"), 2L).otherwise(1L)
            .as("rel"))
      Retrieval.ndcgAtK(ranked, rel, k = 10)
    }),

    // k-anonymity audit of the customer table over the
    // (nation, segment, balance-band) quasi-identifiers — the
    // re-identification report a table ships with (q54 scrubs PII
    // STRINGS; this measures what the structured columns still leak)
    "q251_kanonymity" -> ((s, dir) => {
      Privacy.kAnonymityReport(Tables.load(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band")),
        ks = Seq(2, 5, 10, 20))
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

    // prefix-filtered exact Jaccard pairs (AllPairs/PPJoin): the
    // LOSSLESS scale path for q19's inverted index — rare-first global
    // shingle order, per-doc prefixes of length |d|−⌈t|d|⌉+1,
    // candidates only from prefix postings, full verification.
    // t=0.6 is the technique's regime (prefix ≈ 40% of postings and
    // candidate pairs collapse; at t=0.2 the prefix keeps 80% and the
    // filter buys nothing — spec-pinned lossless at both)
    "q253_prefix_jaccard" -> ((s, dir) => {
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6)
    }),

    // classical seasonal-trend decomposition of the per-type daily
    // event series: centered 7-day MA trend, centered weekday
    // seasonal, remainder — all exact micro fixed point
    "q254_stl_decompose" -> ((s, dir) => {
      TimeSeries.stlDecompose(Tables.events(s, dir), "event_type",
        to_date(col("ts")))
        .withColumnRenamed("d", "day")
    }),

    // row-level semantic diff between snapshot versions BY KEY — what
    // the file-granularity change feed can't answer on copy-on-write
    // tables: v0 = pre-1996 orders; v1 = upsert (double price of
    // key%97, insert post-1996 key%199 rows); v2 = delete key%485.
    // diff(v0 -> v2) must surface exactly the updates that SURVIVED
    // the delete, the surviving inserts, and the deletes
    "q255_snapshot_diff" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val t = scratchDir("graft_q255") + "/orders_diff"
      val base = orders.filter(col("o_orderdate") < lit("1996-01-01"))
      graft.sources.SnapshotTable.append(base, t)                    // v0
      val updates = base.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = orders
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderkey") % 199 === 0)
      graft.sources.SnapshotTable.upsert(s,
        updates.unionByName(inserts), t, "o_orderkey")               // v1
      graft.sources.SnapshotTable.delete(s, t,
        col("o_orderkey") % 485 === 0)                               // v2
      graft.sources.SnapshotTable.diffVersions(s, t, 0, 2, "o_orderkey")
        .select(col("o_orderkey"), col("change"),
          round(col("old_o_totalprice"), 2).as("old_price"),
          round(col("new_o_totalprice"), 2).as("new_price"))
    }),

    // rolling 7-day exact MEDIAN of per-type daily counts — the
    // robust overlay next to q07's rolling mean; odd window keeps the
    // median an exact order statistic (no interpolation, no float)
    "q256_rolling_median" -> ((s, dir) => {
      TimeSeries.rollingMedian(Tables.events(s, dir), "event_type",
        to_date(col("ts")), window = 7)
        .withColumnRenamed("d", "day")
    }),

    // one-way ANOVA of purchase value (cents) across event types —
    // the k-armed mean test beside the two-arm z-test (q223); exact
    // BIGINT sufficient stats, order-free micro contributions, one
    // fixed float expression for F at the end
    "q257_anova" -> ((s, dir) => {
      Eval.anovaF(Tables.events(s, dir), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))
    }),

    // Theil-Sen robust trend of daily volume per event type — the
    // median-of-pairwise-slopes estimator next to q61's OLS trend: a
    // burst day moves OLS, barely moves this. Pairs run on the DAILY
    // table (calendar-bounded), never on raw events
    "q258_theil_sen" -> ((s, dir) => {
      TimeSeries.theilSenTrend(Tables.events(s, dir), "event_type",
        to_date(col("ts")))
    }),

    // difference-in-differences on purchase value: treated = even
    // user_id, post = Jan 16+ — the causal panel estimate beside the
    // two-arm z-test (q223) and CUPED (q231); exact BIGINT cell stats,
    // one fixed float tree each for the estimate and its SE
    "q259_did" -> ((s, dir) => {
      Eval.diffInDiff(
        Tables.events(s, dir).filter(col("event_type") === "purchase"),
        col("user_id") % 2 === 0,
        col("ts") >= lit("2024-01-16"),
        expr("CAST(round(value * 100) AS BIGINT)"))
    }),

    // mutual information between event type and weekday (Mon=0) — the
    // categorical dependence audit (is traffic mix day-of-week
    // stable?); exact BIGINT grid, micro-rounded per-cell
    // contributions so the sum is order-free
    "q260_mutual_info" -> ((s, dir) => {
      Eval.mutualInformation(Tables.events(s, dir),
        col("event_type"), weekday(to_date(col("ts"))))
    }),

    // the CAPPED prefix-Jaccard path (maxDf drops hot prefix postings
    // from candidate generation — the linear-scale hook on a clone-
    // heavy corpus, measured by `ScaleProbe skew`): on this corpus no prefix
    // posting exceeds 64 docs, so the capped result is pinned to the
    // SAME exact oracle as the lossless q253 while the gate exercises
    // the capped code path (the q94/q95 capped-gate discipline)
    "q261_prefix_jaccard_capped" -> ((s, dir) => {
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6, maxDf = 64)
    }),

    // UNPIVOT/melt — q35's inverse (wide pivot back to long): the
    // reshape every pandas-style report pipeline needs; `stack` is one
    // codegen'd generator, no shuffle beyond the pivot's own. Empty
    // cells are dropped (melt semantics), totals in exact micros
    "q262_unpivot" -> ((s, dir) => {
      val wide = Tables.events(s, dir)
        .groupBy(weekday(to_date(col("ts"))).cast("long").as("dow"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(expr("CAST(floor(value * 1000000.0) AS BIGINT)")))
      wide.select(col("dow"), expr(
        "stack(5, 'click', click, 'error', error, 'purchase', purchase, " +
          "'signup', signup, 'view', view) AS (event_type, total_micro)"))
        .filter(col("total_micro").isNotNull)
    }),

    // Pearson chi-square independence + Cramér's V over the q260 grid
    // (the frequentist complement to mutual information): zero cells
    // contribute E, so the grid completes to the full cross product —
    // model-size by the bounded-cardinality contract
    "q263_chi2" -> ((s, dir) =>
      Eval.chiSquare(Tables.events(s, dir), col("event_type"),
        weekday(to_date(col("ts"))))),

    // sparse TF-IDF cosine pairs from the inverted term index — the
    // WEIGHTED near-dup measure (rare shared vocabulary scores high
    // where set-Jaccard underweights it); maxDf=64 is the linear-scale
    // candidate cap (norms stay full-vocabulary; capped cosine is a
    // lower bound — the q95 discipline), and the oracle replays the
    // capped semantics exactly
    "q264_tfidf_cosine_pairs" -> ((s, dir) =>
      graft.core.Retrieval.tfidfCosinePairs(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.2, maxDf = 64)),

    // Wald SPRT per event type: early-stopping sequential test on the
    // ordered Bernoulli stream value>=32, H0 p=0.45 vs H1 p=0.55 at
    // alpha=beta=0.05 — increments and boundaries are four micro
    // BIGINT literals, the running LLR is an exact integer window sum
    "q265_sprt" -> ((s, dir) =>
      Eval.sprt(Tables.events(s, dir), col("event_type"),
        Seq(col("ts"), col("event_id")), col("value") >= 32.0,
        p0 = 0.45, p1 = 0.55)),

    // Mann-Whitney U per event type (even vs odd users): the
    // nonparametric two-sample readout beside q223's z and q257's F —
    // ranks live on the per-type cents lattice (never a row sort),
    // doubled midranks keep tie-averaging integer, z is one float tree
    "q266_mann_whitney" -> ((s, dir) =>
      Eval.mannWhitneyU(Tables.events(s, dir), col("event_type"),
        when(col("user_id") % 2 === 0, "even").otherwise("odd"),
        expr("CAST(round(value * 100) AS BIGINT)"), "even", "odd")),

    // two-arm log-rank over the q208 survival data (same-type
    // inter-event waits with right-censoring at observation end):
    // do even and odd users' waiting-time curves differ? Per-death
    // contributions micro-round before the cross-time sum
    "q267_log_rank" -> ((s, dir) => {
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
          col("nxt").isNotNull.as("death"),
          (col("user_id") % 2 === 0).as("treated"))
      Eval.logRank(obs, col("event_type"), col("dur"), col("death"),
        col("treated"))
    }),

    // Spearman rank correlation per event type between value and hour
    // of day — the monotone-association audit Pearson misreads on
    // heavy-tailed value; both marginals rank on bounded lattices
    // (cents / 24 hours), rho is one float tree over DECIMAL sums
    "q268_spearman" -> ((s, dir) =>
      Eval.spearman(Tables.events(s, dir), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"),
        hour(col("ts")).cast("long"))),

    // sign-flip permutation test per event type (unit = user, treated
    // = even id) + Benjamini-Hochberg across the 5-test family —
    // p-values are exact integer ratios (1+exceedances)/(B+1) from
    // portable-hash replicates, every BH comparison cross-multiplied
    // to integers; B=199 makes alpha*(B+1)=10 exact
    "q269_perm_fdr" -> ((s, dir) =>
      Eval.permTestFdr(Tables.events(s, dir), col("event_type"),
        col("user_id"), expr("CAST(round(value * 100) AS BIGINT)"),
        col("user_id") % 2 === 0, b = 199, alpha = 0.05, seed = 42L)),

    // MAP@10 over the q250 BM25 panel with the binary (lang, source)
    // relevance pool — the third retrieval metric beside MRR (q234)
    // and nDCG (q250): AP integrates precision at every recall point;
    // hit contributions are pure integer hits*1e6 DIV rank
    "q270_retrieval_map" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val panel = (0L until 500L by 50L).toSeq
      val qdocs = d.filter(col("doc_id").isin(panel: _*))
        .filter(length(trim(col("text"))) > 0)
      val queries = qdocs.select(col("doc_id"), concat_ws(" ",
        slice(TextAnalysis.tokens(col("text")), 3, 16)).as("text"))
      val ranked = graft.core.Retrieval.bm25TopK(d, queries, k = 10)
      val rel = d.select(col("doc_id"), col("lang"), col("source"))
        .join(broadcast(qdocs.select(col("doc_id").as("query_id"),
          col("lang"), col("source"))), Seq("lang", "source"))
        .select(col("query_id"), col("doc_id"))
      graft.core.Retrieval.mapAtK(ranked, rel, k = 10)
    }),

    // multinomial Naive Bayes source attribution: train on even
    // doc_ids (label = source), predict odd — the whole
    // train→score→argmax loop is exact integer fixed point, so the
    // per-doc predictions and scores replay relationally end to end
    "q271_naive_bayes" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val model = graft.ml.NaiveBayes.train(
        d.filter(col("doc_id") % 2 === 0), col("source"), col("text"))
      graft.ml.NaiveBayes.predict(model,
        d.filter(col("doc_id") % 2 === 1), "doc_id", col("text"))
        .withColumnRenamed("id", "doc_id")
    }),

    // isotonic calibration of a value-derived score against the
    // mod-7 label band — the MONOTONE calibration map (minimax closed
    // form == pool-adjacent-violators) next to the raw bins of q153;
    // all block averages are exact integer DIVs over bin prefix sums
    "q272_isotonic" -> ((s, dir) =>
      Eval.isotonicCalibration(Tables.events(s, dir),
        expr("CAST(round(value * 2000) AS BIGINT)"),
        expr("pmod(CAST(round(value * 100) AS BIGINT), 7) < 3"),
        loMicro = 0L, hiMicro = 1000000L, nBins = 50)),

    // Gini concentration of customer revenue per nation — the
    // inequality summary beside the threshold share (q189): exact
    // lattice rank blocks, DECIMAL sums, one integer DIV at the end
    "q273_gini" -> ((s, dir) => {
      val perCust = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
      val withNation = perCust
        .join(Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
      Eval.gini(withNation, col("c_nationkey").cast("long"), col("cents"))
    }),

    // distributed suffix array (prefix doubling) over the documents
    // corpus: the 20 LONGEST exactly-repeated substrings at UNBOUNDED
    // length — the Lee et al. 2022 ExactSubstr shape that closes the
    // dupSpans fixed-window gap (q72 reports 8-token coverage; this
    // reports the 90+-token clones at their true length). Candidates
    // are SA-adjacent pairs only (never all-pairs), pre-filtered by
    // rank-bucket equality at the widest level <= minLen
    "q274_longest_repeats" -> ((s, dir) =>
      graft.core.SuffixArray.longestRepeats(
        Tables.documents(s, dir), "doc_id", "text",
        minLen = 12, topK = 20)),

    // ROUGE-2 per (candidate, reference) pair — generation-eval
    // n-gram overlap (Lin 2004) in exactly-rational form (F1 =
    // 2m/(c+r) — no geometric mean, no brevity exp). Candidates are
    // staged from the corpus: each doc's text with its first
    // doc_id%4 tokens dropped, so matches/clipping/empty edges all
    // occur in-data
    "q307_rouge" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        col("text").as("ref"),
        expr("""concat_ws(' ', slice(split(trim(text), '\\s+'),
            CAST(doc_id % 4 + 1 AS INT), 1000000))""").as("cand"))
      Eval.rougeN(d, "doc_id", col("cand"), col("ref"), n = 2)
    }),

    // ROUGE-L over the same staged candidates as q307: token-level
    // LCS (native two-row DP expression, O(c·r) per pair, no join),
    // exactly-rational P/R/F from (lcs, c, r) — the subsequence
    // member completing the q307/q308 generation-eval family
    "q309_rouge_l" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        col("text").as("ref"),
        expr("""concat_ws(' ', slice(split(trim(text), '\\s+'),
            CAST(doc_id % 4 + 1 AS INT), 1000000))""").as("cand"))
      Eval.rougeL(d, "doc_id", col("cand"), col("ref"))
    }),

    // corpus BLEU components over the same staged candidates as
    // q307: per-order clipped matches + candidate-gram totals +
    // corpus lengths — BLEU's exact-integer core, the float
    // exp/geomean composition stays caller-side
    "q308_bleu_components" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        col("text").as("ref"),
        expr("""concat_ws(' ', slice(split(trim(text), '\\s+'),
            CAST(doc_id % 4 + 1 AS INT), 1000000))""").as("cand"))
      Eval.bleuComponents(d, "doc_id", col("cand"), col("ref"), maxN = 4)
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

    // winnowing fingerprint match pairs (Schleimer et al. SIGMOD'03,
    // the MOSS algorithm): rightmost-min-per-window fingerprint
    // selection (~2/(w+1) of the grams) with the exact detection
    // guarantee above w+k-1 tokens, then the inverted-index pair
    // join with the q95 hot-key cap
    "q305_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowMatchPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 3, w = 4, maxDf = 64)),

    // incremental winnowing against a persisted fingerprint index
    // (the q70 shape for MOSS): two corpus slices indexed in separate
    // transactional appends, the third arrives as the new batch —
    // delta = every pair with >= 1 shared capped fingerprint and a
    // batch side. The oracle replays the monolithic q305 selection
    // restricted to batch-touching pairs, pinning the incremental
    // path to the batch semantics
    "q311_winnow_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val t = scratchDir("graft_q311") + "/idx"
      Dedup.writeFingerprintIndex(d.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", t)
      Dedup.writeFingerprintIndex(d.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", t)
      Dedup.winnowMatchPairsIncremental(s,
        d.filter(col("doc_id") % 3 === 1), t, "doc_id", "text",
        k = 3, w = 4, maxDf = 64)
    }),

    // ExactSubstr span REMOVAL (the Lee et al. 2022 dedup PRODUCT —
    // q274 surfaces the repeats, this one rewrites the corpus): every
    // token inside any >= 12-token substring occurring twice
    // corpus-wide drops (all occurrences), each doc re-emits from its
    // survivors. One gram-frequency aggregation + a per-doc window —
    // no suffix sort needed for fixed-threshold removal
    "q302_exact_substr_dedup" -> ((s, dir) =>
      graft.core.SuffixArray.exactSubstrDedup(
        Tables.documents(s, dir), "doc_id", "text", minLen = 12)),

    // one-way ANOVA across event types on cent-quantized values — the
    // k-group mean test between q223's two-arm z and the rank-based
    // Mann-Whitney; exact-integer core (per-group sums squared over
    // DECIMAL(38,0), q4-lattice per-term quotients, one final integer
    // division for F)
    "q313_anova" -> ((s, dir) =>
      Eval.anovaOneWay(Tables.events(s, dir), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // Kruskal-Wallis H across event types — the k-group RANK test
    // (q313's robust twin): doubled ranks keep tie-averaged ranks
    // integer, ranks come from the value lattice (never a global row
    // sort), exact tie-corrected H* via HUGEINT-replayable divisions
    "q314_kruskal_wallis" -> ((s, dir) =>
      Eval.kruskalWallis(Tables.events(s, dir), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // Friedman test: user cohorts (user_id % 40) as complete blocks,
    // event types as treatments, per-cell revenue ranks WITHIN each
    // block — the repeated-measures member (between-block variation
    // cancels); doubled ranks + exact tie-corrected Q*
    "q316_friedman" -> ((s, dir) =>
      Eval.friedman(Tables.events(s, dir),
        expr("user_id % 40"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // Cochran's Q: binary per-(cohort, event_type) outcome (any
    // cent-value divisible by 3) on complete blocks — the McNemar
    // generalization to k treatments, pure integer end to end
    "q317_cochran_q" -> ((s, dir) =>
      Eval.cochranQ(Tables.events(s, dir),
        expr("user_id % 40"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT) % 3 = 0"))),

    // Brown-Forsythe W across event types — the VARIANCE-homogeneity
    // test of q313's equal-spread assumption (and a dispersion drift
    // detector in its own right): the anova F on |v − group median|,
    // exact via DOUBLED deviations (med2 = the two middle order
    // stats summed, always integer; F is invariant under 2x scaling)
    // with medians from per-GROUP value lattices
    "q321_brown_forsythe" -> ((s, dir) =>
      Eval.brownForsythe(Tables.events(s, dir), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // chrF over the q307/q309 staged candidates — the CHARACTER
    // n-gram F-score (Popović 2015): per-order clipped matches over
    // whitespace-stripped char windows, floored per-order micros,
    // order-averaged P/R, chrF2 as one final integer division
    "q322_chrf" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        col("text").as("ref"),
        expr("""concat_ws(' ', slice(split(trim(text), '\\s+'),
            CAST(doc_id % 4 + 1 AS INT), 1000000))""").as("cand"))
      Eval.chrF(d, "doc_id", col("cand"), col("ref"), maxN = 4)
    }),

    // distinct-n corpus diversity per source — the CROSS-document
    // repetition audit (a source can pass every per-doc gate and
    // still be one template repeated): share of word-trigram
    // occurrences that are distinct, one explode + grouped counts
    "q323_distinct_n" -> ((s, dir) =>
      graft.core.TextAnalysis.distinctN(Tables.documents(s, dir),
        col("source"), col("text"), n = 3)),

    // Moore-Lewis cross-entropy selection (ACL 2010): rank docs by
    // the per-bigram log-likelihood difference between an in-domain
    // LM (doc_id % 7 == 0 slice) and a general LM (% 7 == 3 slice);
    // floor-division normalization so negative scores divide
    // identically in Spark and DuckDB
    "q324_moore_lewis" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val inLm = graft.core.LanguageModel.trainBigram(
        d.filter(col("doc_id") % 7 === 0))
      val genLm = graft.core.LanguageModel.trainBigram(
        d.filter(col("doc_id") % 7 === 3))
      graft.core.LanguageModel.mooreLewis(d, inLm, genLm)
    }),

    // Page's trend test — the ordered-treatment counterpart of
    // Friedman on the SAME blocks (q328 asks the ordered question
    // for independent groups; this asks it within blocks): a staged
    // +50-cents-per-tier shift inside each (cohort, tier) cell makes
    // the within-block trend real; doubled ranks, exact E[L2],
    // no-tie null variance (documented conservative under ties)
    "q329_page_trend" -> ((s, dir) =>
      Eval.pageTrend(Tables.events(s, dir),
        expr("user_id % 40"), expr("event_id % 4"),
        expr("CAST(round(value * 100) AS BIGINT) + (event_id % 4) * 50"))),

    // Jonckheere-Terpstra ordered trend across user tiers — "do
    // values INCREASE along the ordering" (the dose-response
    // question Kruskal-Wallis cannot ask); a staged +500-cents-per-
    // tier shift makes the trend real, so the gate exercises a
    // strongly positive z, exact doubled-JT core, tie-corrected
    // three-term variance
    "q328_jonckheere" -> ((s, dir) =>
      Eval.jonckheereTerpstra(Tables.events(s, dir),
        expr("user_id % 4"),
        expr("CAST(round(value * 100) AS BIGINT) + (user_id % 4) * 500"))),

    // SEMANTIC decontamination — the n-gram faces' structural blind
    // spot: a paraphrased eval item shares no 8-gram but sits next
    // to its source in embedding space. One broadcast cross against
    // the eval embeddings + a per-doc struct argmax; threshold
    // compares the unrounded cosine
    "q326_semantic_decontam" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.core.Decontaminate.flagContaminatedEmbedding(
        emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0),
        threshold = 0.42)
    }),

    // degenerate-generation loop detector — every 6th doc gets a
    // staged 3-token cycle repeated 4x at its tail; the detector must
    // find the FUNDAMENTAL period (3, not 6) and clean prose must
    // stay unflagged
    "q327_loop_detect" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val aug = concat(col("text"),
        when(col("doc_id") % 6 === 0,
          expr("repeat(' loop cycle end', 4)")).otherwise(lit("")))
      graft.core.TextAnalysis.loopDetect(
        d.select(col("doc_id"), aug.as("text")), "doc_id", "text")
    }),

    // INCREMENTAL semantic decontamination over the persisted
    // eval-embedding index — all three decontamination modalities
    // now share the q311-style lifecycle: two suite versions append
    // (vec_id % 20 ∈ {0, 10} == the % 10 == 0 eval slice), each delta
    // screens the corpus against its own vectors only, and the
    // per-doc (rounded-cosine, lowest-id) max fold must equal the
    // monolithic q326 result — max is associative, so the fold is
    // exact by construction
    "q330_semantic_decontam_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val train = emb.filter(col("vec_id") % 10 =!= 0)
      val t = scratchDir("graft_q330") + "/idx"
      val d1 = graft.core.Decontaminate
        .flagContaminatedEmbeddingIncremental(s, train,
          emb.filter(col("vec_id") % 20 === 0), t, threshold = 0.42)
      val d2 = graft.core.Decontaminate
        .flagContaminatedEmbeddingIncremental(s, train,
          emb.filter(col("vec_id") % 20 === 10), t, threshold = 0.42)
      d1.unionByName(d2)
        .groupBy("vec_id")
        .agg(max(struct(col("max_cosine").as("c"),
            (-col("nearest_eval_id")).as("ne"))).as("m"),
          max(when(col("contaminated"), 1).otherwise(0)).as("anyc"))
        .select(col("vec_id"), col("m.c").as("max_cosine"),
          (-col("m.ne")).as("nearest_eval_id"),
          (col("anyc") === 1).as("contaminated"))
    }),

    // BEYOND-BROADCAST semantic decontamination: the q326 screen
    // re-expressed over the PERSISTED eval-embedding index with IVF
    // bucketing (q27's fixed vec_id % 97 = 3 centroids) at nProbe=0
    // — every bucket probed, so each (train, eval) pair scores
    // exactly once and the result is the broadcast face bit-for-bit
    // (the oracle replays q326's SQL verbatim); per-task memory is
    // one bucket of eval vectors, never the whole suite
    "q331_semantic_decontam_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val t = scratchDir("graft_q331") + "/idx"
      graft.core.Decontaminate.writeEvalEmbeddingIndex(
        emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding", t)
      graft.core.Decontaminate.flagContaminatedEmbeddingIvf(s,
        emb.filter(col("vec_id") % 10 =!= 0), t, cents,
        threshold = 0.42, nProbe = 0)
    }),

    // Luhn card scrub — the PII class q54's digit-run heuristic
    // cannot separate: staged valid test cards (every 5th doc, three
    // formats) and an invalid near-miss (every 7th) land in the
    // corpus; the mod-10 checksum (a pure expression fold) accepts
    // exactly the real card shapes and the redaction fold replaces
    // only those
    "q325_luhn_scrub" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0, concat(lit(" card "),
          element_at(array(lit("4111 1111 1111 1111"),
            lit("378282246310005"), lit("5500-0055-5555-5559")),
            (col("doc_id") % 3 + 1).cast("int")))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" bogus 4111111111111112"))
          .otherwise(lit("")))
      graft.core.TextAnalysis.scrubCards(
        d.select(col("doc_id"), aug.as("text")), "text")
        .select("doc_id", "n_card_candidates", "n_cards_valid",
          "scrubbed")
    }),

    // McNemar's paired test comparing two value-derived classifiers
    // on the SAME events — only the discordant cells matter; the
    // continuity-corrected chi2 is pure integer arithmetic (q223's
    // two-proportion z would wrongly treat the arms as independent)
    "q275_mcnemar" -> ((s, dir) =>
      Eval.mcnemar(Tables.events(s, dir),
        expr("pmod(CAST(round(value * 100) AS BIGINT), 7) < 3"),
        expr("pmod(CAST(round(value * 100) AS BIGINT), 5) < 2"))),

    // Adamic-Adar link prediction over the q207 co-purchase graph
    // (support >= 2 part pairs): rare shared neighbors weigh more;
    // the single float (1/ln deg) is micro-rounded at the model-size
    // degree table, pair scores are exact BIGINT sums. Top-20 by
    // score with the pair as the total tie-break
    "q276_adamic_adar" -> ((s, dir) => {
      GraphOps.adamicAdar(coPurchaseEdges(s, dir), "a", "b", maxDeg = 32)
        .orderBy(col("aa_micro").desc, col("a"), col("b"))
        .limit(20)
    }),

    // fixed-size PPS sample: 20 docs per source, inclusion pressure
    // proportional to token count — sequential Poisson sampling on
    // the portable avalanched hash, sort key an exact integer DIV
    "q277_pps_sample" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling.ppsSample(d, "source", "doc_id", "n_tokens", n = 20)
    }),

    // greedy k-center coreset over the embeddings: 6 maximally-spread
    // exemplars (Gonzalez 2-approx), exact micro-lattice distances so
    // the argmax chain replays bit-for-bit; min-id seed, min-id ties
    "q278_kcenter_select" -> ((s, dir) =>
      Sampling.kCenterSelect(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 6)),

    // homoglyph-hardened dedup key: confusable skeleton (NFC, strip
    // invisibles, casefold, Cyrillic/Greek lookalikes -> ASCII). The
    // gate stages the attack the operator exists for (the q52/q57
    // derived-slice pattern): every 20th doc re-enters with Cyrillic
    // а/е/о substituted and a zero-width space injected — byte-exact
    // dedup sees disjoint singletons, the skeleton reunites each pair
    // (n_variants = 2); at sf0.1 the corpus's own case-insensitive
    // groups surface too
    "q279_skeleton_dups" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val spoofed = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(substring(col("text"), 1, 1), lit("\u200B"),
            translate(expr("substring(text, 2)"), "aeo", "аео"))
            .as("text"))
      TextAnalysis.skeletonDupGroups(docs.unionByName(spoofed),
        "doc_id", "text")
    }),

    // the assignment half of the k-center coreset: nearest-center
    // census (population, coverage radius, total distance per center)
    "q280_kcenter_assign" -> ((s, dir) =>
      Sampling.kCenterAssign(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 6)),

    // edit-distance near-dup join on a 40-char normalized prefix key:
    // Ed-Join prefix-filtered candidates (rarest k·q+1 char-grams),
    // thresholded-banded levenshtein verify. The gate STAGES the
    // near-miss the operator exists for (the q279 pattern): every
    // 10th doc re-enters with chars 4-5 of its key replaced by 'zq'
    // (ed ≤ 2); the corpus's own exact-dup families surface as ed = 0
    "q281_edit_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        lower(substring(trim(col("text")), 1, 40)).as("key"))
      val spoof = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(substring(col("key"), 1, 3), lit("zq"),
            expr("substring(key, 6)")).as("key"))
      Dedup.editNearDupPairs(docs.unionByName(spoof), "doc_id", "key",
        k = 2, q = 3)
    }),

    // exact Shapley-value attribution over the 4 non-purchase channels
    // (16-coalition lattice, micro-quantized conversion rates, all-
    // integer factorial weights) — the coalition-game closer beside
    // last-touch (q147) and Markov removal effect (q210)
    "q282_shapley" -> ((s, dir) =>
      Eval.shapleyAttribution(Tables.events(s, dir),
        col("user_id"), col("event_type"),
        col("event_type") === "purchase")),

    // split-conformal prediction intervals per event type: hash-split
    // train/calib/test, per-type train-mean predictor, q-hat = the
    // exact ceil((n+1)(1-alpha)) calibration order statistic, test
    // coverage counted against it (alpha = 0.1)
    "q283_conformal" -> ((s, dir) =>
      Eval.conformalCalibrate(Tables.events(s, dir),
        col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)"))),

    // exact two-sample Wasserstein-1 drift per event type between the
    // even/odd event-id arms — the earth-mover closer of the drift
    // family (PSI q108, KS q111): CDF-difference integral on the
    // cents lattice, one final DIV against the n_a*n_b denominator
    "q284_wasserstein" -> ((s, dir) =>
      Profile.wasserstein1(Tables.events(s, dir), "event_type",
        expr("CAST(round(value * 100) AS BIGINT)"),
        col("event_id") % 2 === 0)),

    // Pareto frontier of suppliers under (minimize unit price,
    // maximize shipped volume) — the undominated set via the
    // two-phase prefix-max skyline scan, ties kept on both dims
    "q285_skyline" -> ((s, dir) => {
      val parts = Tables.lineitem(s, dir).groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("price_cents"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("total_qty"))
        .select(col("l_partkey"),
          expr("price_cents DIV total_qty").as("unit_cents"),
          col("total_qty"))
      graft.core.Skyline.skyline2d(parts, col("l_partkey"),
          col("unit_cents"), col("total_qty"))
        .select(col("id").as("l_partkey"), col("x").as("unit_cents"),
          col("y").as("total_qty"))
    }),

    // Warner randomized response per event type: 10% portable-hash
    // flips on the value>50 bit, debiased count estimate + its error
    // vs the true count — the local-DP member of the privacy family
    "q286_randomized_response" -> ((s, dir) =>
      graft.core.Privacy.randomizedResponse(Tables.events(s, dir),
        col("event_type"), col("event_id"), col("value") > 50.0,
        flipMicro = 100000L)),

    // l-diversity audit (q251's companion): user x event-type-prefix
    // quasi-identifiers, the value-band as the sensitive attribute;
    // per requested l the classes/rows at risk
    "q287_ldiversity" -> ((s, dir) =>
      graft.core.Privacy.lDiversityReport(Tables.events(s, dir),
        Seq(expr("user_id % 50").as("qi_user"),
          substring(col("event_type"), 1, 1).as("qi_et")),
        expr("CAST(floor(value / 100) AS BIGINT)").as("band"),
        ls = Seq(2, 3, 5))),

    // quantile normalization of per-source doc lengths onto the
    // global length distribution — two two-phase rank passes, exact
    // ceil(r*N/n_s) order-statistic rematch, never interpolated
    "q288_quantile_normalize" -> ((s, dir) =>
      Profile.quantileNormalize(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          col("n_chars")),
        "doc_id", "source", "n_chars")),

    // HITS over the buyer->part bipartite graph (3 iterations, L-inf
    // micro normalization): hub customers endorse authoritative parts
    "q289_hits" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
      GraphOps.hits(edges, "o_custkey", "l_partkey", iters = 3)
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

    // AMS tug-of-war F2 sketch over part-key frequencies: 5x16
    // median-of-means with portable-hash signs, exact F2 beside the
    // estimate — the moment member of the sketch family (CMS q98,
    // HLL q206, KMV q218, Bloom q122)
    "q291_ams_f2" -> ((s, dir) =>
      Sketches.amsF2(Tables.lineitem(s, dir), col("l_partkey"))),

    // batch perceptron on the embedding micro-lattice (labels 0-4 vs
    // 5-9, bias coordinate, 3 epochs): training as pure relational
    // aggregation — exact BIGINT margins/updates, driver-size weights
    "q292_perceptron" -> ((s, dir) =>
      graft.ml.Perceptron.trainBatch(Tables.embeddings(s, dir),
        "embedding", col("label") < 5, epochs = 3)),

    // Mann-Kendall monotone-trend significance per event type over
    // the daily cents series — the nonparametric companion to the
    // Theil-Sen slope (q258), all-integer continuity-corrected test
    "q301_mann_kendall" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      TimeSeries.mannKendall(daily, "event_type", "d", "cents")
    }),

    // rendezvous (HRW) placement audit: doc keys over 8 vs 9 shards
    // — per-shard populations both topologies + the exact moved-key
    // count (the minimal-movement property modulo placement lacks)
    "q299_rendezvous" -> ((s, dir) =>
      graft.core.Placement.rendezvousAudit(
        Tables.documents(s, dir), col("doc_id"), shards = 8)),

    // largest-remainder (Hamilton) apportionment of a 1M-token budget
    // across sources by their exact token counts — quotas sum to the
    // budget exactly, floors + top-remainder +1s
    "q300_apportion" -> ((s, dir) => {
      val tok = Tables.documents(s, dir).select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      graft.core.Placement.apportion(tok, col("source"), col("n_tok"),
        budget = 1000000L)
    }),

    // Krippendorff's alpha over per-(user, type) value-band labels:
    // units = users, one rating per event type present — the
    // multi-rater/missing-tolerant agreement gate beside Cohen's
    // kappa (q154)
    "q298_krippendorff" -> ((s, dir) => {
      val ratings = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) DIV count(1)")
          .as("avgc"))
        .select(col("user_id"), expr("avgc DIV 2000").as("band"))
      Eval.krippendorffAlpha(ratings, col("user_id"), col("band"))
    }),

    // functional-dependency discovery over four orders columns: one
    // melted scan, per-pair violation census — key detection and
    // is-this-derivable audits as a relational profile
    "q297_fd_discovery" -> ((s, dir) =>
      Profile.functionalDependencies(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority"))),

    // greedy maximum-coverage source selection: which 5 sources cover
    // the most distinct word trigrams — the Nemhauser-Wolsey-Fisher
    // greedy as k bounded driver passes (the q278 discipline)
    "q296_set_cover" -> ((s, dir) => {
      val pe = Tables.documents(s, dir).select(col("source"),
        explode(Dedup.shingles(col("text"), 3)).as("tri"))
      Sampling.greedySetCover(pe, "source", "tri", k = 5)
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

    // Local Outlier Factor (k=5) over the embeddings on the milli
    // lattice: exact k-distance order statistics, tie-inclusive
    // neighborhoods, integer reachability/lrd/LOF ratios — the
    // density-ratio member of the outlier family (MAD q145, centroid
    // z q198, isoforest q28)
    "q293_lof" -> ((s, dir) =>
      Similarity.lof(Tables.embeddings(s, dir), k = 5)),

    // LOF over IVF-bucket candidates — the corpus-scale path q293's
    // exact baseline documents: fixed centroids (the q27 convention),
    // all-integer bucket assignment, same quantized LOF algebra over
    // the probed-bucket candidate relation instead of the cross join
    "q303_lof_bucketed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val centroids = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.lofBucketed(emb, centroids, k = 5, nProbe = 2)
    }),

    // two-level IVF assignment — the scale fix for the n x B flat
    // assignment cross (probe rounds' "q49 artifact"): coarse cells
    // (every 4th fine centroid's id rule), wProbe=2, fine argmin
    // restricted to probed cells' children. All-integer, same milli
    // lattice as q293/q303
    "q304_hier_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val fine = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val coarse = emb.filter(col("vec_id") % 388 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.assignBucketsHierarchical(emb, coarse, fine, wProbe = 2)
    }),

    // two-level LOF — q303's algebra with q304's two-stage probing
    // (the B ∝ n operating point where flat assignment would be
    // n²/const): coarse wProbe=2, fine nProbe=2, identical LOF tail.
    // The composition gate for the lofBucketedTwoLevel scale default
    "q310_lof_two_level" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val fine = emb.filter(col("vec_id") % 97 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val coarse = emb.filter(col("vec_id") % 388 === 3)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.lofBucketedTwoLevel(emb, coarse, fine, k = 5,
        nProbe = 2, wProbe = 2)
    }),

    // class-rebalancing oversample over the embedding labels: every
    // label replicates ceil(n_max/n_L) times with copy indexes —
    // integer factors, no Bernoulli residue, exactly reproducible.
    // Output: the balanced per-label census
    "q246_oversample_balance" -> ((s, dir) => {
      val bal = Sampling.oversampleBalance(
        Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
        "label")
      bal.groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_balanced"),
          countDistinct(col("vec_id")).as("n_originals"),
          max("copy_idx").as("max_copy"))
    }),

    // stratified k-fold assignment: within each label folds go
    // round-robin in portable-hash order — every fold holds
    // n_L/k ± 1 rows of each label (exact stratification, which
    // random assignment only approximates); pure function of
    // (id, seed). Output: the (label, fold) census
    "q247_stratified_folds" -> ((s, dir) => {
      Sampling.stratifiedFolds(
          Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
          "label", "vec_id", k = 5)
        .groupBy(col("label").cast("long").as("label"), col("fold"))
        .agg(count(lit(1)).as("n_rows"), min("vec_id").as("min_id"))
    }),

    // right-to-be-forgotten lifecycle: a user's rows leave via the
    // stat-pruned copy-on-write DELETE, then VACUUM physically drops
    // every file of the pre-delete versions — after which the erased
    // rows are not just invisible but GONE (time travel to the
    // pre-delete snapshot is impossible by design; the spec pins the
    // physical-bytes consequence). The gate reads the surviving table
    // under the complement oracle
    "q245_forget_user" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val tbl = scratchDir("graft_q245") + "/ev"
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), to_date(col("ts")).as("d"),
        col("event_type"), round(col("value"), 2).as("value"))
      val mid = lit(java.sql.Date.valueOf("2024-01-16"))
      SnapshotTable.append(ev.filter(col("d") < mid), tbl)
      SnapshotTable.append(ev.filter(col("d") >= mid), tbl)
      SnapshotTable.delete(s, tbl, col("user_id") === 42L)
      SnapshotTable.vacuum(tbl, keepVersions = 1)
      SnapshotTable.read(s, tbl)
    }),

    // equi-depth histogram of order totals (cents): 8 boundaries at
    // the exact discrete ranks ceil(i·n/8) over the DISTINCT-value
    // lattice (never a corpus sort), bucket masses from cumulative
    // differences — the skew-aware optimizer statistic q239's
    // min/max+NDV card can't express
    "q244_equi_depth_hist" -> ((s, dir) =>
      Profile.equiDepthHistogram(Tables.load(s, dir, "orders"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"), nBuckets = 8)),

    // item-item collaborative filtering: cosine over binary customer-
    // incidence vectors (the dot product IS the common-customer
    // count — BIGINT until one fixed sqrt/division per pair), scores
    // as order-free sums of rounded micro links, top-5 unseen parts
    // for a fixed 10-customer panel. Support >= 2 bounds the pair
    // table (the q207 argument)
    "q243_item_item_recs" -> ((s, dir) => {
      import s.implicits._
      // ui is referenced by sims, ownership and the anti filter;
      // materializing it (localCheckpoint) was MEASURED SLOWER
      // (5.2 vs 4.4 s min-of-3) — the re-run join is cheaper than the
      // materialization, the pair generation dominates either way
      val ui = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      // explicit cap (exact-by-default API): every sf0.01 basket is
      // under 500, so the capped path equals the exact result here
      // while the gate still exercises the production-scale shape
      val sims = Recommend.itemItemSim(ui, "cust", "part", minSupport = 2L,
        maxItemsPerUser = 500)
      val panel = (1L to 10L).map(_ * 37L).toDF("cust")
      Recommend.recommendTopK(ui, sims, panel, "cust", "part", k = 5)
    }),

    // keyword-in-context windows: every 'customer' occurrence with a
    // ±3-token window and (doc, position) provenance — the targeted
    // data-selection operator. Filter dies in the scan stage; windows
    // slice from the row's own token array, zero joins/shuffles
    "q241_context_windows" -> ((s, dir) =>
      TextAnalysis.contextWindows(Tables.documents(s, dir), "text",
        term = "customer", radius = 3)),

    // deterministic negative-edge sampling for link prediction over
    // the co-purchase graph: per positive edge 8 avalanched-hash
    // vertex draws mapped to vertex RANKS, self-loops and true edges
    // dropped (anti join on the canonical pair), first 2 survivors
    // in draw order kept — reproducible across engines/partitionings,
    // no RNG state anywhere
    "q242_negative_edges" -> ((s, dir) => {
      GraphOps.negativeEdges(coPurchaseEdges(s, dir), "a", "b",
        k = 2, candidates = 8)
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

    // ANALYZE-style table statistics: per column rows / nulls /
    // HLL-estimated NDV (one bounded m x cols register state — never
    // a per-column COUNT(DISTINCT) expand at scale) with the exact
    // NDV joined as audit. String-safe columns only (float formatting
    // diverges across engines)
    "q239_analyze_stats" -> ((s, dir) => {
      val ord = Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        expr("CAST(o_orderdate AS DATE)").as("o_date"))
      Profile.analyzeTable(ord,
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_date"))
    }),

    // point-in-time enrichment against the SCD2 dimension: events
    // join the user's segment AS OF the event timestamp — the
    // correctness property naive current-row joins violate (training
    // data leakage: a Feb migration must not relabel Jan events).
    // Dim versions broadcast; one fact scan, the interval predicate
    // evaluated post-probe on key equality
    "q238_scd2_enrich" -> ((s, dir) => {
      import graft.sources.Scd2
      val tbl = scratchDir("graft_q238") + "/dim"
      val cust = Tables.load(s, dir, "customer")
      val b1 = cust.select(col("c_custkey"),
        col("c_mktsegment").as("seg"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("eff"))
      val b2 = cust.select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, lit("MIGRATED"))
          .otherwise(col("c_mktsegment")).as("seg"),
        lit(java.sql.Date.valueOf("2024-01-16")).as("eff"))
      Scd2.upsertBatch(s, tbl, b1, "c_custkey", Seq("seg"), "eff", "dim", 1L)
      Scd2.upsertBatch(s, tbl, b2, "c_custkey", Seq("seg"), "eff", "dim", 2L)
      val dim = graft.sources.SnapshotTable.read(s, tbl)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
      ev.join(broadcast(dim),
          col("user_id") === col("c_custkey")
            && col("valid_from") <= col("d")
            && (col("valid_to").isNull || col("d") < col("valid_to")),
          "left")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // SCD2 dimension maintenance: two full snapshot batches (Jan:
    // original segments; Feb: every third customer migrates), each
    // applied as close-changed-keys MERGE + insert-new-versions
    // append under one idempotence scope. Unchanged keys must NOT
    // version; the oracle replays the history with lag-dedupe + lead
    // windows over the batch union
    "q237_scd2" -> ((s, dir) => {
      import graft.sources.Scd2
      val tbl = scratchDir("graft_q237") + "/dim"
      val cust = Tables.load(s, dir, "customer")
      val b1 = cust.select(col("c_custkey"),
        col("c_mktsegment").as("seg"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("eff"))
      val b2 = cust.select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, lit("MIGRATED"))
          .otherwise(col("c_mktsegment")).as("seg"),
        lit(java.sql.Date.valueOf("2024-02-01")).as("eff"))
      Scd2.upsertBatch(s, tbl, b1, "c_custkey", Seq("seg"), "eff", "dim", 1L)
      Scd2.upsertBatch(s, tbl, b2, "c_custkey", Seq("seg"), "eff", "dim", 2L)
      // open versions project the 9999-12-31 sentinel: a NULL DATE
      // round-trips as None vs NaT across the two engines' pandas
      // paths — representation noise, not semantics
      graft.sources.SnapshotTable.read(s, tbl)
        .select(col("c_custkey"), col("seg"), col("valid_from"),
          coalesce(col("valid_to"),
            lit(java.sql.Date.valueOf("9999-12-31"))).as("valid_to"),
          col("is_current"))
    }),

    // incrementally-maintained JOIN view (the join sibling of q117's
    // rollup): V = orders ⋈ customer kept fresh across three
    // interleaved source commits by the delta-join identity
    // ΔV = ΔA⋈B_new ∪ A_old⋈ΔB (the cross term counted exactly once),
    // delivery guarded by ONE combined monotone txn cursor. The
    // commit structure must not leak: the view read hash-matches the
    // one-shot relational join
    "q236_join_view" -> ((s, dir) => {
      import graft.sources.{JoinView, SnapshotTable}
      val base = scratchDir("graft_q236")
      val (ta, tb, tv) = (base + "/ord", base + "/cust", base + "/view")
      val ord = Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("CAST(o_orderdate AS DATE)").as("o_date"),
        round(col("o_totalprice"), 2).as("price"))
      val cust = Tables.load(s, dir, "customer").select(
        col("c_custkey").as("o_custkey"), col("c_name"),
        col("c_mktsegment"))
      val midC = 700L
      SnapshotTable.append(ord.filter(col("o_orderkey") % 2 === 0), ta)
      SnapshotTable.append(cust.filter(col("o_custkey") < midC), tb)
      JoinView.maintain(s, tv, ta, tb, "o_custkey")   // bootstrap
      SnapshotTable.append(ord.filter(col("o_orderkey") % 2 === 1), ta)
      JoinView.maintain(s, tv, ta, tb, "o_custkey")   // ΔA leg
      SnapshotTable.append(cust.filter(col("o_custkey") >= midC), tb)
      JoinView.maintain(s, tv, ta, tb, "o_custkey")   // ΔB leg
      SnapshotTable.read(s, tv)
        .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
          col("price"), col("c_name"), col("c_mktsegment"))
    }),

    // column mapping — rename WITHOUT rewrite (the Delta column-
    // mapping contract): the physical->logical map rides the
    // versioned constraints machinery, files keep physical names
    // forever, readers alias at scan end, writers alias incoming
    // logical batches back. Lifecycle in-gate: append half, rename
    // o_totalprice -> price (metadata-only), append the second half
    // UNDER THE NEW NAME, delete on a logical-name predicate, read.
    // The oracle is the orders slice with the same alias + filter —
    // it fails if the rename rewrote/renulled a column or the
    // post-rename append landed under the wrong physical name
    "q235_column_rename" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val tbl = scratchDir("graft_q235") + "/t"
      val ord = Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("CAST(o_orderdate AS DATE)").as("o_date"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        col("o_orderpriority"))
      SnapshotTable.append(ord.filter(col("o_orderkey") % 2 === 0), tbl)
      SnapshotTable.renameColumn(tbl, "o_totalprice", "price")
      SnapshotTable.append(
        ord.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_totalprice", "price"), tbl)
      SnapshotTable.delete(s, tbl, col("price") < 20000.0)
      SnapshotTable.read(s, tbl)
        .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
          col("price"), col("o_orderpriority"))
    }),

    // ViT-style patchify through the REAL codec: gradient PNGs
    // decoded, every image split into its 2x2 patch grid (ragged
    // edges dropped — the ViT floor-divide convention), per patch the
    // EXACT BIGINT gray sum — the oracle replays the generator
    // arithmetic through the patch index map with zero float surface
    "q233_image_patchify" -> ((s, dir) => {
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val media = graft.core.Multimodal.synthesizeGradientPngs(ids)
      graft.core.Multimodal.patchifyImages(media, p = 2)
        .select(col("media_id").as("doc_id"), col("patch_row"),
          col("patch_col"), col("px_sum"),
          expr("px_sum * 1000000 DIV 4").as("mean_micro"))
    }),

    // BM25 retrieval-quality eval: queries are 16-token phrases SLICED
    // from their source docs (positions 3-18), gold = the source doc,
    // per query the gold's rank in the corpus-wide BM25 top-10 and
    // its reciprocal rank in exact micro units (0 = miss) — the MRR
    // eval harness a retrieval index ships with. FIXED 10-query panel
    // (the q169 pattern): eval cost stays linear in the corpus
    "q234_retrieval_mrr" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val panel = (0L until 500L by 50L).toSeq
      val queries = d.filter(col("doc_id").isin(panel: _*))
        .select(col("doc_id"), concat_ws(" ",
          slice(TextAnalysis.tokens(col("text")), 3, 16)).as("text"))
      val top = Retrieval.bm25TopK(d, queries, k = 10)
      val gold = top.filter(col("doc_id") === col("query_id"))
        .select(col("query_id"), col("rank"))
      queries.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id").as("query_id"))
        .join(gold, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("rank"), lit(0L)).as("gold_rank"),
          expr("CASE WHEN rank IS NOT NULL THEN 1000000 DIV rank " +
            "ELSE 0L END").as("rr_micro"))
    }),

    // Poisson-bootstrap CI for the mean purchase value: every row
    // draws an independent Poisson(1) multiplicity per replicate from
    // an AVALANCHED hash (the raw rolling fold is affine in the
    // replicate suffix — the q159 correlation bug class), replicate
    // means exact on the cents lattice, CI = discrete order stats
    // over the 200 replicate means. The distributed bootstrap: no
    // resample ever materializes
    "q230_bootstrap_ci" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
      Eval.bootstrapCi(ev, col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)"), b = 200)
    }),

    // CUPED variance reduction: pre-period user value (x) as the
    // covariate for the experiment-period metric (y), θ=cov/var from
    // one exact-integer sufficient-stats aggregation, arm means
    // adjusted by the pooled θ — plus ρ² (the variance fraction CUPED
    // removes). Arms from the portable 50/50 user hash split (q223)
    "q231_cuped" -> ((s, dir) => {
      val mid = lit(java.sql.Date.valueOf("2024-01-16"))
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(to_date(col("ts")) < mid,
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("x_cents"),
          sum(when(to_date(col("ts")) >= mid,
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("y_cents"))
      val armed = Sampling.hashSplit(
        users, "user_id", Seq(("a", 0.5), ("b", 0.5)))
      Eval.cuped(armed, col("split"), col("x_cents"), col("y_cents"),
        "a", "b").orderBy("arm")
    }),

    // decile lift table of the quality score against the is-English
    // label (q151's classifier-audit pairing): global two-phase
    // prefix rank (never a single-partition window), exact
    // (rank−1)·10 DIV n deciles, per-decile rate + cumulative lift
    // vs base rate — all BIGINT
    "q232_lift_table" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Eval.liftTable(scored, "doc_id",
        expr("CAST(round(quality_score * 1000000) AS BIGINT)"),
        col("lang") === "en", nBuckets = 10)
    }),

    // TPC-H Q6-shape forecasting-revenue-change: the canonical
    // filter-heavy single-scan aggregate — every predicate (date
    // range, discount band, quantity cap) must reach the parquet
    // scan; no join, no shuffle beyond the final one-row agg
    "q225_revenue_delta" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .filter(expr("CAST(l_shipdate AS DATE) >= DATE '1997-01-01'")
          && expr("CAST(l_shipdate AS DATE) < DATE '1998-01-01'")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(round(sum(expr("l_extendedprice * l_discount")), 2)
          .as("promo_revenue"), count(lit(1)).as("n_rows"))
    }),

    // TPC-H Q9-shape product profit: pattern-filtered part dim
    // (LIKE '%red%') broadcast into the fact, supplier + nation
    // broadcast behind it, grouped by (nation, ship year) — the
    // multi-dim star with a computed group key
    "q226_product_profit" -> ((s, dir) => {
      val red = Tables.load(s, dir, "part")
        .filter(col("p_name").like("%red%")).select("p_partkey")
      Tables.load(s, dir, "lineitem")
        .join(broadcast(red), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          expr("year(CAST(l_shipdate AS DATE))").cast("long").as("o_year"))
        .agg(round(sum(expr("l_extendedprice * (1 - l_discount)")), 2)
          .as("profit"))
    }),

    // TPC-H Q2-shape min-cost supplier: the correlated MIN subquery
    // decorrelated — observed unit price (cents) per (part, supplier)
    // from one fact aggregate restricted to EUROPE suppliers, the
    // per-part minimum joined back on (part, cents) EQUALITY so every
    // tying supplier surfaces, dims broadcast throughout. Unit cents
    // are one double division + round on both engines (identical
    // parenthesization), then pure BIGINT
    "q227_min_cost_supplier" -> ((s, dir) => {
      val eurN = Tables.load(s, dir, "nation").filter(col("n_regionkey") === 3)
      val eurS = Tables.load(s, dir, "supplier")
        .join(broadcast(eurN), col("s_nationkey") === col("n_nationkey"))
      val cost = Tables.load(s, dir, "lineitem")
        .join(broadcast(eurS.select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(expr(
          "CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)"))
          .as("unit_cents"))
      val parts = Tables.load(s, dir, "part")
        .filter(col("p_size").between(10, 20) && col("p_type") === "STANDARD")
        .select("p_partkey", "p_name")
      val scoped = cost.join(broadcast(parts),
        col("l_partkey") === col("p_partkey"))
      val best = scoped.groupBy(col("p_partkey").as("bk"))
        .agg(min("unit_cents").as("best_cents"))
      scoped.join(broadcast(best), col("p_partkey") === col("bk")
          && col("unit_cents") === col("best_cents"))
        .join(broadcast(eurS), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"),
          round(col("s_acctbal"), 2).as("s_bal"), col("n_name"),
          col("unit_cents"))
    }),

    // TPC-H Q16-shape supplier census: distinct suppliers per
    // (brand, type, size) cell over a NOT-filtered part grid, with
    // complaint suppliers (negative balance) removed by a broadcast
    // ANTI join BEFORE the distinct — the exclusion must not just
    // drop rows, it must drop the supplier from every cell's count
    "q228_supplier_part_count" -> ((s, dir) => {
      val parts = Tables.load(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#12" && col("p_type") =!= "PROMO"
          && col("p_size").isin(1, 5, 15, 25, 35, 45))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val bad = Tables.load(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      Tables.load(s, dir, "lineitem")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"),
          col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q20-shape dominant supplier: the nested IN chain
    // decorrelated — per (supplier, part) 1997 shipped quantity of
    // 'small%' parts vs the part's total (cross-multiplied 4·q > t:
    // a >25% share, exact BIGINT), the qualifying suppliers collapsed
    // by a semi join into the nation-filtered supplier dim
    "q229_dominant_supplier" -> ((s, dir) => {
      val fp = Tables.load(s, dir, "part")
        .filter(col("p_name").like("small%")).select("p_partkey")
      val sq = Tables.load(s, dir, "lineitem")
        .filter(expr("CAST(l_shipdate AS DATE) >= DATE '1997-01-01'")
          && expr("CAST(l_shipdate AS DATE) < DATE '1998-01-01'"))
        .join(broadcast(fp), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("q"))
      val tq = sq.groupBy(col("l_partkey").as("pk"))
        .agg(sum("q").as("t"))
      val dom = sq.join(broadcast(tq),
          col("l_partkey") === col("pk") && col("q") * 4 > col("t"))
        .select("l_suppkey").distinct()
      Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")
          .filter(col("n_name") === "NATION_12")),
          col("s_nationkey") === col("n_nationkey"))
        .join(dom, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }),

    // snapshot-table RESTORE + shallow CLONE lifecycle (the Delta
    // rollback/branching pair): two appends, a copy-on-write DELETE
    // that removes the urgent orders, restore back to the pre-delete
    // version (a metadata-only commit — no data rewrite), then a
    // shallow clone (hardlinked files, zero bytes copied, fresh
    // history). The clone must read exactly the pre-delete table —
    // the oracle is the full orders slice, which FAILS if the delete
    // survived restore or the clone mis-referenced a file
    "q219_restore_clone" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val base = scratchDir("graft_q219")
      val tbl = base + "/t"
      val cl = base + "/clone"
      val ord = Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        expr("CAST(o_orderdate AS DATE)").as("o_date"),
        col("o_totalprice"), col("o_orderpriority"))
      val mid = lit(java.sql.Date.valueOf("1997-01-01"))
      SnapshotTable.append(ord.filter(col("o_date") < mid), tbl)
      val vPre = SnapshotTable.append(ord.filter(col("o_date") >= mid), tbl)
      SnapshotTable.delete(s, tbl, col("o_orderpriority") === "1-URGENT")
      SnapshotTable.restore(tbl, vPre)
      SnapshotTable.cloneShallow(tbl, cl)
      SnapshotTable.read(s, cl)
        .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
          round(col("o_totalprice"), 2).as("o_price"),
          col("o_orderpriority"))
    }),

    // k-core of the part co-purchase graph (q207's edge builder):
    // 6 fixed peeling rounds — enough to reach the fixpoint at every
    // SF (spec-pinned); fixed rounds keep the round count itself
    // inside the oracle (the q157 unrolled-iteration discipline).
    // Output: surviving vertices with their within-core degree
    "q221_kcore" -> ((s, dir) => {
      GraphOps.kCore(coPurchaseEdges(s, dir), "a", "b", k = 2, rounds = 6)
    }),

    // 1-bit binary-quantized ANN (the faiss/usearch BQ serving
    // shape): 64 float dims -> 8 code bytes via per-dim corpus-mean
    // thresholds on the exact micro lattice; Hamming bit_count(xor)
    // coarse stage over the codes (the only full-corpus pass), exact
    // full-vector cosine re-rank of 20 survivors. Deterministic at
    // every stage -> the whole cascade replays relationally
    "q220_binary_quant_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bqTopK(emb.filter(col("vec_id") < 12), emb, k = 5, cands = 20)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("hamming"), col("cosine"))
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

  /** Fixed, library-constant BPE model for the q85 oracle-checkable
    * encode gate: trained once (deterministically) over an embedded
    * dictionary of common data-engineering tokens — the domain
    * vocabulary the synthetic corpus speaks — so the learned merges
    * actually fire on real documents. The model is a PARAMETER of
    * encode the way PQ codebooks are for q56/q57; its merge list is
    * embedded as literals in the DuckDB oracle.
    */
  /** Temp dir for gate closures that exercise the table format: same
    * contract as `Files.createTempDirectory` plus a JVM shutdown hook
    * that deletes the tree — repeated bench/probe iterations would
    * otherwise accumulate full encode/pack tables under /tmp for the
    * life of the machine, not just the session.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  // ONE hook for the JVM's lifetime: a hook per scratchDir call would
  // accumulate unbounded hook threads (each pinning its path) across
  // repeated bench/probe iterations in a long-lived JVM
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
      }
      scratchDirs.forEach(del(_))
    }))
  }
  /** The co-purchase edge table shared by q207/q221/q242/q276: parts
    * sharing an order, support ≥ 2. Pair generation goes through
    * collect-basket + the PairCombinations generator (the
    * Dedup.ngramJaccardPairs inverted-index shape) instead of the
    * previous self-equi-join on the order key — the self-join planned
    * the scan→distinct lineage TWICE and paid two order-keyed
    * exchanges before the pair exchange; this is one grouped
    * aggregation + one generator pass (guide §2.4). sort_array on
    * struct(p) orders each basket ascending and PairCombinations
    * preserves input order, so pairs come out a < b exactly like the
    * old x.p < y.p predicate (per-order parts are distinct, so
    * strictness is preserved); the grouped support count is over the
    * identical pair multiset — results are bit-identical (same four
    * oracles).
    */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
      .groupBy("o")
      .agg(sort_array(collect_list(struct(col("p")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(org.apache.spark.sql.GraftShim.column(
        graft.expressions.PairCombinations(
          org.apache.spark.sql.GraftShim.expression(col("ds"))))
        .as(Seq("a", "b")))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2).select("a", "b")

  private def scratchDir(prefix: String): String = {
    scratchHook
    val d = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(d.toFile)
    d.toString
  }

  lazy val FixedBpeModel: Bpe.Model = Bpe.trainFromDict(Array(
    ("the", 50L), ("data", 40L), ("table", 35L), ("query", 30L),
    ("row", 28L), ("scan", 25L), ("hash", 24L), ("join", 22L),
    ("merge", 20L), ("order", 18L), ("filter", 17L), ("stream", 16L),
    ("window", 15L), ("vector", 14L), ("group", 13L), ("batch", 12L),
    ("value", 11L), ("column", 10L), ("sort", 9L), ("fast", 8L),
    ("slow", 7L), ("small", 6L), ("customer", 5L), ("spark", 5L),
    ("line", 4L), ("key", 4L), ("part", 3L), ("agg", 3L),
    ("big", 2L), ("dup", 2L), ("a", 2L)),
    numMerges = 60, minFrequency = 1L)

  /** The q80 flagship pipeline — curate (5-stage gates) -> survivors
    * -> BPE train + id-encode on the CURATED corpus -> packed
    * fixed-length token-id sequences — parameterized over the encode
    * boundary:
    *
    *  - `encodeTable = Some(dir)` (the gate, and production): the
    *    encode output is WRITTEN as a SnapshotTable between stages and
    *    read twice. Measured FASTER than re-running the encode per
    *    consumer at every methodology tried (10.3s vs 14.5s bench,
    *    11.6s vs 18.8s cold-cache at sf0.1 — PLANS.md "q80 encode
    *    boundary"), and the only shape that works when encode output
    *    exceeds memory. (An in-memory `.persist()` of the wide
    *    piece_ids arrays was ALSO slower than both in round 3 —
    *    11.0 -> 13.4s — columnar parquet + lazy column pruning beats
    *    row-cache materialization here.)
    *  - `encodeTable = None`: re-run the memoized encode per consumer
    *    — the zero-side-effect form for one-shot jobs on small corpora
    *    (PackingSpec pins equality of the two forms).
    *
    * Gate projection is SCALAR-only: the driver's checker sorts
    * columns in pandas, and an array<bigint> column crashes it
    * (unhashable ndarray — the r03 q80 red row). Library callers get
    * the raw token_ids via [[Packing.packIdSequences]]; the gate pins
    * the same content as an order-sensitive digest.
    */
  def corpusToSequences(s: SparkSession, dir: String,
                        encodeTable: Option[String] = None): DataFrame = {
    val docs = Tables.documents(s, dir)
    // docs ⋈ broadcast(id list) — measured FASTER than pulling the
    // texts out of the stage caches (g3 ⋈ ids chained two text
    // shuffles; this is one broadcast hash join over the raw scan:
    // 9.4 vs 10.8 s bench). A def, not a val: the curation stages must
    // build inside the corpus-write scope below so it releases them.
    def curated = docs.join(
        Curation.curateFullSurvivorIds(docs, maxNllMicro = 3450000L),
        Seq("doc_id"))
      .select(col("doc_id"), col("text"))
    // The curated-corpus boundary. Per-job attribution: over half of
    // q80's wall time was DRIVER-side gaps between ~54 jobs — every
    // downstream action re-analyzed the five-stage
    // curation lineage, and each AQE stage re-optimized it. Writing
    // the boundary as a table (the between-pipeline table a production
    // run writes anyway) makes every downstream plan a manifest-
    // planned scan leaf, and releases the curation caches HERE rather
    // than pinning them until the encode write. The in-memory persist
    // remains the zero-side-effect small-corpus form.
    val corpus = encodeTable match {
      case Some(t) => Materialize.scope {
        graft.sources.SnapshotTable.overwrite(curated, t + "_corpus")
        graft.sources.SnapshotTable.read(s, t + "_corpus")
      }
      case None => Materialize.persist(curated)
    }
    // ONE corpus scan feeds BOTH the training dict and the vocabulary:
    // the persisted word-frequency table is the training input (filter
    // + cap exactly as Bpe.train), and the char vocabulary derives
    // from word TYPES (Bpe.vocabFromCounts — identical char set, |word
    // types| rows scanned instead of a second corpus pass).
    val (model, vocabIds) = Materialize.scope {
      val wc = Materialize.persist(Bpe.wordCounts(corpus, "text"))
      val dict = wc.filter(col("cnt") >= 2L)
        .orderBy(col("cnt").desc, col("word")).limit(2000000)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val model = Bpe.trainFromDict(dict, numMerges = 100, minFrequency = 2L)
      (model, Bpe.vocabFromCounts(wc, model)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    val enc = Bpe.encodeIds(corpus, "doc_id", "text", model, vocabIds)
    val packed = encodeTable match {
      case Some(t) =>
        // the encode boundary stays MATERIALIZED (measured faster than
        // re-running the encode per packing consumer at every
        // methodology tried — PLANS.md "q80 encode boundary" — and the
        // only shape that works when encode output exceeds memory).
        graft.sources.SnapshotTable.overwrite(enc, t)
        Packing.packIdSequences(
          graft.sources.SnapshotTable.read(s, t), "doc_id", seqLen = 512)
      case None =>
        // zero-side-effect small-corpus form: the result is lazy, so
        // the caches must outlive this call — one-shot jobs only
        // (session teardown reclaims them; long-lived callers should
        // pass an encodeTable)
        Packing.packIdSequences(enc, "doc_id", seqLen = 512)
    }
    // md5 of the comma-joined ids, not xxhash64: Spark's xxhash64 is
    // engine-private (seed + internal-representation hashing), while
    // md5 of the SAME ascii string is reproducible by any engine —
    // which is what lets q80's oracle replay the whole pipeline
    // relationally and hash-compare the packed id arrays.
    packed.select(col("seq_id"), col("n_docs"), col("n_tokens"),
      md5(concat_ws(",", col("token_ids"))).as("ids_hash"))
  }

  /** Fixed data-independent PQ codebooks shared by q56/q57 and their
    * oracles (m=8 subspaces × 16 codes × 8 dims — 1024 literals, the
    * same scale the q50 oracle embeds).
    */
  private lazy val PqOracleModel =
    graft.core.ProductQuantizer.hashCodebooks(m = 8, ks = 16, subDim = 8)

  /** Shared by q42 (composed as-of) and q48 (custom-plan as-of): both
    * implementations must match DuckDB's native ASOF JOIN.
    */
  /** One-shot daily rollup over raw events in per-row fixed-point —
    * the oracle BOTH incremental-rollup gates (q117 plain two-commit,
    * q119 exactly-once with a replayed batch) must land on.
    */
  private val RollupOracleSql =
    """SELECT CAST(ts AS DATE) AS d,
      |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
      |    AS total_micro,
      |  count(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  /** The q91 quality-score replay as an expression fragment — expects
    * a CTE scope providing `text` and `t` (the whitespace token
    * array). Rounded to 6 decimals, bit-identical across engines (the
    * q91 evidence); q151/q153 lattice it to micro BIGINTs.
    */
  private val QualityScoreSql =
    """round(CAST(len(list_filter(t, x -> list_contains(
      |        ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
      |        / len(t) * 0.4
      |      + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |        / length(text) * 0.6
      |      - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
      |        / length(text) * 0.5, 6)""".stripMargin

  /** The q23 language-ID replay projected to (gold, pred) — the
    * shared input of the confusion matrix (q152) and kappa (q154)
    * oracles.
    */
  private val LangIdPredSql =
    """WITH lbase AS (
      |  SELECT lang, text, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |lscored AS (
      |  SELECT lang,
      |    CAST(len(list_filter(t, x -> list_contains(['the','and','of','is'], x)))
      |      + (length(text) - length(replace(text, 'th', ''))) / 2
      |      + (length(text) - length(replace(text, 'ing', ''))) / 3
      |      + (length(text) - length(replace(text, 'he ', ''))) / 3 AS BIGINT) AS score_en,
      |    CAST(len(list_filter(t, x -> list_contains(['el','la','de','que'], x)))
      |      + (length(text) - length(replace(text, 'ión', ''))) / 3
      |      + (length(text) - length(replace(text, 'os ', ''))) / 3
      |      + (length(text) - length(replace(text, 'que', ''))) / 3 AS BIGINT) AS score_es,
      |    CAST(len(list_filter(t, x -> list_contains(['der','die','und','ist'], x)))
      |      + (length(text) - length(replace(text, 'sch', ''))) / 3
      |      + (length(text) - length(replace(text, 'ein', ''))) / 3
      |      + (length(text) - length(replace(text, 'und', ''))) / 3 AS BIGINT) AS score_de,
      |    CAST(len(list_filter(t, x -> list_contains(['le','la','et','est'], x)))
      |      + (length(text) - length(replace(text, 'eau', ''))) / 3
      |      + (length(text) - length(replace(text, 'oux', ''))) / 3
      |      + (length(text) - length(replace(text, 'ent', ''))) / 3 AS BIGINT) AS score_fr
      |  FROM lbase)
      |SELECT lang AS gold,
      |  CASE
      |    WHEN score_fr > greatest(score_de, score_en, score_es) THEN 'fr'
      |    WHEN score_es > greatest(score_de, score_en) THEN 'es'
      |    WHEN score_en > score_de THEN 'en'
      |    ELSE 'de' END AS pred
      |FROM lscored""".stripMargin

  /** q221 oracle: the 6 peeling rounds unrolled as plain CTE pairs
    * (degree → keep → filtered edges), the q157 fixed-iteration shape.
    */
  private val KCoreOracleSql: String = {
    // every CTE MATERIALIZED: DuckDB 1.0 inlines plain CTEs per
    // reference, and each round references its parent three times ->
    // 3^6 re-evaluations of the whole chain without it
    val rounds = (1 to 6).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY v),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN (SELECT v FROM d$i WHERE d >= 2) x ON e.a = x.v
         |  JOIN (SELECT v FROM d$i WHERE d >= 2) y ON e.b = y.v)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH basket AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS (
       |  SELECT b1.p AS a, b2.p AS b FROM basket b1
       |  JOIN basket b2 ON b1.o = b2.o AND b1.p < b2.p),
       |e0 AS MATERIALIZED (
       |  SELECT a, b FROM pairs GROUP BY a, b HAVING count(*) >= 2),
       |$rounds
       |SELECT v, CAST(count(*) AS BIGINT) AS core_degree FROM (
       |  SELECT a AS v FROM e6 UNION ALL SELECT b FROM e6)
       |GROUP BY v""".stripMargin
  }

  private val AsofOracleSql =
    """WITH o AS (
      |  SELECT o_custkey, o_orderdate, max(o_totalprice) AS best_price
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS d,
      |  CAST(o.o_orderdate AS DATE) AS order_d,
      |  round(o.best_price, 2) AS best_price
      |FROM events e ASOF LEFT JOIN o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice),2) AS sum_base_price,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        |  round(avg(l_quantity),4) AS avg_qty,
        |  round(avg(l_discount),4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS o_totalprice,
        |  CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM orders
        |WHERE o_orderstatus = 'O'
        |  AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'
        |  AND o_totalprice > 1000.0""".stripMargin,

    "q03_region_revenue" ->
      """SELECT r_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q04_topk_parts" ->
      """SELECT l_partkey,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |GROUP BY l_partkey
        |ORDER BY revenue DESC, l_partkey ASC
        |LIMIT 5""".stripMargin,

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

    "q10_union" ->
      """SELECT event_id, user_id, round(value,2) AS value, 'buy' AS tag
        |FROM events WHERE event_type = 'purchase'
        |UNION ALL
        |SELECT event_id, user_id, round(value,2) AS value, 'err' AS tag
        |FROM events WHERE event_type = 'error'""".stripMargin,

    "q11_validate_split" ->
      """WITH ev AS (
        |  SELECT *, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT CASE WHEN value IS NOT NULL AND k IS NOT NULL AND k >= 10
        |         THEN 'good' ELSE 'bad' END AS bucket,
        |  count(*) AS n, round(sum(value),2) AS total
        |FROM ev GROUP BY 1""".stripMargin,

    "q12_casts" ->
      """SELECT doc_id,
        |  TRY_CAST(lang AS DOUBLE) AS lang_as_double,
        |  TRY_CAST(n_chars AS DOUBLE) AS chars_as_double,
        |  TRY_CAST(TRY_CAST(substr(text,1,3) AS INTEGER) AS BIGINT) AS prefix_as_int
        |FROM documents""".stripMargin,

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

    // keep the min-id ROW wholesale (the engine's exemplar
    // semantics), NOT independent per-column minima: a duplicate
    // group whose min-id copy carries lang 'zh' while another copy
    // carries 'en' must report 'zh'. (Independent min(lang) passed at
    // sf0.01 by luck and failed the sf0.1 audit.)
    "q17_dedup_exact_keep" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "q18_dedup_exact_groups" ->
      """SELECT sha256(text) AS text_hash, count(*) AS n_copies,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q19_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b,
        |  round(CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common), 6) AS jaccard
        |FROM pairs p
        |JOIN counts ca ON p.doc_a = ca.doc_id
        |JOIN counts cb ON p.doc_b = cb.doc_id
        |WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2""".stripMargin,

    "q20_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array(shingle, ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    min((h*1299721 + 15485863) % 1000000007) AS mh_0,
        |    min((h*1299743 + 15485867) % 1000000007) AS mh_1,
        |    min((h*1299763 + 15485917) % 1000000007) AS mh_2,
        |    min((h*1299791 + 15485927) % 1000000007) AS mh_3,
        |    min((h*1299811 + 15485933) % 1000000007) AS mh_4,
        |    min((h*1299817 + 15485941) % 1000000007) AS mh_5,
        |    min((h*1299821 + 15485959) % 1000000007) AS mh_6,
        |    min((h*1299827 + 15485989) % 1000000007) AS mh_7
        |  FROM hashed GROUP BY 1),
        |banded AS (
        |  SELECT doc_id, band_idx,
        |    CASE band_idx
        |      WHEN 0 THEN md5(mh_0 || '|' || mh_1) WHEN 1 THEN md5(mh_2 || '|' || mh_3)
        |      WHEN 2 THEN md5(mh_4 || '|' || mh_5) ELSE md5(mh_6 || '|' || mh_7)
        |    END AS band_key,
        |    mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_idx)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    ((CASE WHEN a.mh_0=b.mh_0 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_1=b.mh_1 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_2=b.mh_2 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_3=b.mh_3 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_4=b.mh_4 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_5=b.mh_5 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_6=b.mh_6 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_7=b.mh_7 THEN 1 ELSE 0 END)) / 8.0 AS est_jaccard
        |  FROM banded a JOIN banded b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, est_jaccard FROM cand WHERE est_jaccard >= 0.25""".stripMargin,

    // q20's CTEs with the band-bucket cap: buckets of more than
    // maxBandSize (=2) docs are excluded from candidate generation.
    "q94_lsh_banded_cap" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array(shingle, ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    min((h*1299721 + 15485863) % 1000000007) AS mh_0,
        |    min((h*1299743 + 15485867) % 1000000007) AS mh_1,
        |    min((h*1299763 + 15485917) % 1000000007) AS mh_2,
        |    min((h*1299791 + 15485927) % 1000000007) AS mh_3,
        |    min((h*1299811 + 15485933) % 1000000007) AS mh_4,
        |    min((h*1299817 + 15485941) % 1000000007) AS mh_5,
        |    min((h*1299821 + 15485959) % 1000000007) AS mh_6,
        |    min((h*1299827 + 15485989) % 1000000007) AS mh_7
        |  FROM hashed GROUP BY 1),
        |banded AS (
        |  SELECT doc_id, band_idx,
        |    CASE band_idx
        |      WHEN 0 THEN md5(mh_0 || '|' || mh_1) WHEN 1 THEN md5(mh_2 || '|' || mh_3)
        |      WHEN 2 THEN md5(mh_4 || '|' || mh_5) ELSE md5(mh_6 || '|' || mh_7)
        |    END AS band_key,
        |    mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_idx)),
        |capped AS (
        |  SELECT * FROM banded
        |  QUALIFY count(*) OVER (PARTITION BY band_idx, band_key) BETWEEN 2 AND 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    ((CASE WHEN a.mh_0=b.mh_0 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_1=b.mh_1 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_2=b.mh_2 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_3=b.mh_3 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_4=b.mh_4 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_5=b.mh_5 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_6=b.mh_6 THEN 1 ELSE 0 END) +
        |     (CASE WHEN a.mh_7=b.mh_7 THEN 1 ELSE 0 END)) / 8.0 AS est_jaccard
        |  FROM capped a JOIN capped b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, est_jaccard FROM cand WHERE est_jaccard >= 0.25""".stripMargin,

    // q19's CTEs with the stop-shingle cap: shingles whose document
    // frequency exceeds maxDf (=4) generate no candidate pairs, while
    // per-doc shingle counts (the Jaccard denominators) still include
    // them — the capped Jaccard is a lower bound of the exact one.
    "q95_jaccard_maxdf" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |keepsh AS (
        |  SELECT shingle FROM sh GROUP BY 1
        |  HAVING count(*) > 1 AND count(*) <= 4),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN keepsh k ON a.shingle = k.shingle
        |  GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b,
        |  round(CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common), 6) AS jaccard
        |FROM pairs p
        |JOIN counts ca ON p.doc_a = ca.doc_id
        |JOIN counts cb ON p.doc_b = cb.doc_id
        |WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2""".stripMargin,

    // the BPE trainer's first merge step, replayed relationally from
    // the corpus word dictionary: char-split + end-of-word symbol,
    // adjacent-pair counts weighted by word frequency, trainer
    // tie-break (count desc, pair lexicographic). rank-1 IS the first
    // merge — the Spark side embeds the driver loop's actual argmax as
    // a literal, so the hashes pin loop == relational semantics.
    "q96_bpe_first_merge" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents),
        |dict AS (
        |  SELECT word, count(*) AS cnt FROM toks
        |  WHERE length(word) > 0 GROUP BY 1 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT list_append(regexp_split_to_array(word, ''), '</w>') AS s, cnt
        |  FROM dict),
        |expl AS (
        |  SELECT unnest([{'a': s[i], 'b': s[i+1]}
        |                 for i in generate_series(1, len(s)-1)],
        |                recursive := true), cnt
        |  FROM sym),
        |pc AS (
        |  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS c FROM expl GROUP BY 1, 2),
        |top AS (
        |  SELECT a, b, c,
        |    CAST(row_number() OVER (ORDER BY c DESC, a, b) AS BIGINT) AS rank
        |  FROM pc QUALIFY rank <= 50)
        |SELECT rank, a, b, c, (rank = 1) AS is_first_merge FROM top""".stripMargin,

    // the salted join must reproduce the PLAIN join's row multiset —
    // the oracle is the unsalted join, aggregated identically
    "q97_salted_join" ->
      """SELECT p_brand, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    // exact bigram counts at the 0.1% support threshold (cnt*1000 >=
    // total — the integer form of ceil(total/1000), no division): the
    // CMS estimates are collision-free on this fixture (930-type
    // universe vs a 20k x 5 grid), so value AND count hash-match
    "q98_cms_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT string_split(trim(text), ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM toks, unnest(generate_series(1, len(ws)-1)) AS t(i)),
        |c AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bg GROUP BY 1)
        |SELECT bigram, cnt FROM c
        |WHERE cnt * 1000 >= (SELECT CAST(count(*) AS BIGINT) FROM bg)""".stripMargin,

    // identical oracle to q98: the stream's cell-wise-merged CMS must
    // equal the one-pass batch sketch (documents all have >= 10
    // tokens, so ngramsAll(n=2) == the adjacent-pair construction)
    "q99_stream_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT string_split(trim(text), ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM toks, unnest(generate_series(1, len(ws)-1)) AS t(i)),
        |c AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bg GROUP BY 1)
        |SELECT bigram, cnt FROM c
        |WHERE cnt * 1000 >= (SELECT CAST(count(*) AS BIGINT) FROM bg)""".stripMargin,

    "q21_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, tok,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, i.range AS i,
        |    sum(CASE WHEN (h // CAST(2 ** i.range AS BIGINT)) % 2 = 1
        |        THEN 1 ELSE -1 END) AS vote
        |  FROM th, range(32) i GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN vote > 0 THEN CAST(2 ** i AS BIGINT) ELSE 0 END)
        |    AS BIGINT) AS simhash
        |FROM bits GROUP BY 1""".stripMargin,

    "q22_token_stats" ->
      """WITH base AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |    AS BIGINT) AS n_tokens_bpeish,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(t), 4)
        |    AS mean_token_len,
        |  round(CAST(len(list_filter(t, x -> list_contains(
        |    ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / len(t), 6)
        |    AS stopword_ratio,
        |  round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |    / length(text), 6) AS punct_ratio,
        |  round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |    / length(text), 6) AS alpha_ratio
        |FROM base""".stripMargin,

    "q23_langid" ->
      """WITH base AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(t, x -> list_contains(['the','and','of','is'], x)))
        |      + (length(text) - length(replace(text, 'th', ''))) / 2
        |      + (length(text) - length(replace(text, 'ing', ''))) / 3
        |      + (length(text) - length(replace(text, 'he ', ''))) / 3 AS BIGINT) AS score_en,
        |    CAST(len(list_filter(t, x -> list_contains(['el','la','de','que'], x)))
        |      + (length(text) - length(replace(text, 'ión', ''))) / 3
        |      + (length(text) - length(replace(text, 'os ', ''))) / 3
        |      + (length(text) - length(replace(text, 'que', ''))) / 3 AS BIGINT) AS score_es,
        |    CAST(len(list_filter(t, x -> list_contains(['der','die','und','ist'], x)))
        |      + (length(text) - length(replace(text, 'sch', ''))) / 3
        |      + (length(text) - length(replace(text, 'ein', ''))) / 3
        |      + (length(text) - length(replace(text, 'und', ''))) / 3 AS BIGINT) AS score_de,
        |    CAST(len(list_filter(t, x -> list_contains(['le','la','et','est'], x)))
        |      + (length(text) - length(replace(text, 'eau', ''))) / 3
        |      + (length(text) - length(replace(text, 'oux', ''))) / 3
        |      + (length(text) - length(replace(text, 'ent', ''))) / 3 AS BIGINT) AS score_fr
        |  FROM base)
        |SELECT doc_id,
        |  CASE
        |    WHEN score_fr > greatest(score_de, score_en, score_es) THEN 'fr'
        |    WHEN score_es > greatest(score_de, score_en) THEN 'es'
        |    WHEN score_en > score_de THEN 'en'
        |    ELSE 'de' END AS lang_pred,
        |  score_en, score_es, score_de, score_fr
        |FROM scored""".stripMargin,

    "q24_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,

    "q25_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [q.v[i+1] * c.v[i+1] for i in generate_series(0, len(q.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [q.v[i+1] * q.v[i+1] for i in generate_series(0, len(q.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [c.v[i+1] * c.v[i+1] for i in generate_series(0, len(c.v)-1)]),
        |         (acc, x) -> acc + x))) AS cos
        |  FROM e q, e c
        |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "q26_label_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(i.range AS BIGINT) AS dim,
        |  round(avg(CAST(embedding[i.range + 1] AS DOUBLE)), 6) AS mean_v,
        |  count(*) AS n
        |FROM embeddings, range(64) i
        |GROUP BY 1, 2""".stripMargin,
    // q27: deterministic-by-construction ANN — the full IVF pipeline
    // (assign -> probe -> exact within-probe rank) replayed
    // relationally, the q49 prefix extended end-to-end.
    "q27_ivf_ann" -> q27OracleSql,

    // the incremental snapshot-table index must answer EXACTLY like
    // the one-shot relational pipeline — same oracle as q27
    "q100_ivf_index_incremental" -> q27OracleSql,

    // BM25: postings/df/dl/idf and the per-query rank window replayed
    // relationally; per-term scores floored to 1e-6 BIGINT before the
    // sum (order-free), ln ulp the only cross-engine surface (the
    // accepted q68/q88 class). Identical parenthesization to
    // Retrieval.bm25TopK.
    "q101_bm25_retrieval" -> q101OracleSql,

    // the two-commit snapshot-table postings index must answer
    // EXACTLY like the one-shot relational BM25 — same oracle as q101
    "q102_bm25_index_incremental" -> q101OracleSql,

    // RRF hybrid fusion: both arms replayed relationally at depth 20,
    // integer 1e9 // (60 + rank) contributions, order-free BIGINT sum
    "q103_hybrid_rrf" -> q103OracleSql,

    // recall@5 of the replayed IVF chain vs the replayed exact chain
    "q104_ann_recall" -> q104OracleSql,

    // the greedy MMR loop replayed as a recursive CTE: per step, the
    // candidate argmax of 0.7·rel − 0.3·max-sim-to-selected via a
    // lexicographic struct max (sc, −cand_id)
    "q105_mmr_select" -> q105OracleSql,

    // q28-q29: model-scoring — intentionally no oracle
    // (rows-only checks; parity proven in the test suite instead)

    "q30_sort" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS o_totalprice,
        |  CAST(o_orderdate AS DATE) AS d
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY round(o_totalprice,2) DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,

    "q31_cube" ->
      """WITH e AS (
        |  SELECT event_type, isodow(CAST(ts AS DATE)) - 1 AS dow, value
        |  FROM events)
        |SELECT event_type, dow, round(sum(value),2) AS total, count(*) AS n
        |FROM e GROUP BY CUBE(event_type, dow)""".stripMargin,

    "q32_semi_anti" ->
      """SELECT c_custkey, 'has_big' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 50000.0)
        |UNION ALL
        |SELECT c_custkey, 'no_big' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 50000.0)""".stripMargin,

    "q33_rank_lag" ->
      """WITH p AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER w AS rnk, lag(value) OVER w AS prev_value
        |  FROM events WHERE event_type = 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC))
        |SELECT user_id, CAST(rnk AS BIGINT) AS rnk, event_id,
        |  round(value,2) AS value, round(prev_value,2) AS prev_value
        |FROM p WHERE rnk <= 2""".stripMargin,

    "q34_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q35_pivot" ->
      """WITH e AS (
        |  SELECT isodow(CAST(ts AS DATE)) - 1 AS dow, event_type, value
        |  FROM events)
        |SELECT dow,
        |  round(sum(CASE WHEN event_type='click' THEN value END),2) AS click,
        |  round(sum(CASE WHEN event_type='error' THEN value END),2) AS error,
        |  round(sum(CASE WHEN event_type='purchase' THEN value END),2) AS purchase,
        |  round(sum(CASE WHEN event_type='signup' THEN value END),2) AS signup,
        |  round(sum(CASE WHEN event_type='view' THEN value END),2) AS view
        |FROM e GROUP BY 1""".stripMargin,

    "q36_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM events""".stripMargin,

    "q46_arrays_json" ->
      """WITH emb AS (
        |  SELECT vec_id,
        |    CAST(len(embedding) AS BIGINT) AS dim,
        |    round(CAST(embedding[1] AS DOUBLE), 6) AS first_v,
        |    round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_v,
        |    round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_v,
        |    round(CAST(list_sort(embedding)[2] AS DOUBLE), 6) AS second_smallest
        |  FROM embeddings),
        |ev AS (
        |  SELECT CAST(-1 AS BIGINT) AS vec_id, count(*) AS n,
        |    CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
        |      AS BIGINT) AS k_sum,
        |    round(avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS k_avg
        |  FROM events)
        |SELECT coalesce(emb.vec_id, ev.vec_id) AS vec_id, emb.dim,
        |  emb.first_v, emb.max_v, emb.min_v,
        |  emb.second_smallest, ev.n, ev.k_sum, ev.k_avg
        |FROM emb FULL OUTER JOIN ev ON emb.vec_id = ev.vec_id""".stripMargin,

    "q47_datetime" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS d,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT)
        |    AS days_to_eoy
        |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin,

    "q44_setops" ->
      """SELECT user_id, 'both' AS tag FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'error')
        |UNION ALL
        |SELECT user_id, 'buy_only' AS tag FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'error')""".stripMargin,

    "q45_scalars" ->
      """SELECT p_partkey,
        |  upper(substr(p_name, 1, 8)) AS name_prefix,
        |  lower(p_brand) AS brand_lower,
        |  CAST(length(trim(p_type)) AS BIGINT) AS type_len,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
        |  p_brand || '-' || CAST(p_size AS VARCHAR) AS brand_size,
        |  CASE WHEN p_retailprice > 1500 THEN 'premium'
        |       WHEN p_retailprice > 1000 THEN 'standard'
        |       ELSE 'budget' END AS tier,
        |  coalesce(nullif(p_type, ''), 'unknown') AS type_or_unknown,
        |  round(sqrt(abs(p_retailprice)), 4) AS sqrt_price,
        |  round(pow(CAST(p_size AS DOUBLE), 2.0), 1) AS size_sq,
        |  CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket,
        |  round(exp(p_size / 25.0), 6) AS exp_size
        |FROM part""".stripMargin,

    "q43_dedup_resolve" -> q43OracleSql,

    // q172: q19's exact pair set + q60's split replay + the canonical
    // (least, greatest) pair grouping
    "q172_split_leakage" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |flt AS (
        |  SELECT p.doc_a, p.doc_b
        |  FROM pairs p
        |  JOIN counts ca ON p.doc_a = ca.doc_id
        |  JOIN counts cb ON p.doc_b = cb.doc_id
        |  WHERE CAST(p.n_common AS DOUBLE)
        |    / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(doc_id || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN hv % 1000000 < 800000 THEN 'train'
        |         WHEN hv % 1000000 < 900000 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM h),
        |j AS (
        |  SELECT least(sa.split, sb.split) AS split_1,
        |    greatest(sa.split, sb.split) AS split_2
        |  FROM flt f
        |  JOIN sp sa ON f.doc_a = sa.doc_id
        |  JOIN sp sb ON f.doc_b = sb.doc_id)
        |SELECT split_1, split_2, CAST(count(*) AS BIGINT) AS n_pairs,
        |  split_1 <> split_2 AS leaking
        |FROM j GROUP BY 1, 2""".stripMargin,

    // q173: the q43 component closure + size-of-size counts
    "q173_dup_cluster_histogram" -> q173OracleSql,

    // q175: identical micro lattice, integer means (both engines'
    // division truncates toward zero), exact centered-product sums,
    // one float division + round at the end
    "q175_embedding_covariance" ->
      s"""WITH $covMatrixCtes
         |SELECT dim_i, dim_j, n, cov_sum, corr FROM cm""".stripMargin,

    // q176: the q175 correlation matrix (identical rounded doubles)
    // mirrored to full form, then 5 power-iteration steps unrolled —
    // every matrix-vector row and the norm are ORDERED folds, so the
    // floats land bit-identical
    "q176_pca_power" -> {
      def step(k: Int): String =
        s"""y$k AS (
           |  SELECT m.d, list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    [m.mrow[i + 1] * x${k - 1}.xs[i + 1]
           |     for i in generate_series(0, 63)]),
           |    (a, b) -> a + b) AS yd
           |  FROM mm m, x${k - 1}),
           |a$k AS (SELECT list(yd ORDER BY d) AS ys FROM y$k),
           |n$k AS (SELECT ys, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    [w * w for w in ys]), (a, b) -> a + b)) AS nrm FROM a$k),
           |x$k AS (SELECT list_transform(ys, v -> v / nrm) AS xs, nrm
           |        FROM n$k)""".stripMargin
      s"""WITH $covMatrixCtes,
         |fullm AS (
         |  SELECT dim_i AS di, dim_j AS dj, corr FROM cm
         |  UNION ALL
         |  SELECT dim_j, dim_i, corr FROM cm WHERE dim_i <> dim_j),
         |mm AS (SELECT di AS d, list(corr ORDER BY dj) AS mrow
         |       FROM fullm GROUP BY 1),
         |x0 AS (SELECT [CAST(0.015625 AS DOUBLE)
         |               for i in generate_series(0, 63)] AS xs),
         |${(1 to 5).map(step).mkString(",\n")}
         |SELECT CAST(i.range AS BIGINT) AS dim,
         |  round(x5.xs[i.range + 1], 6) AS component,
         |  round(x5.nrm, 6) AS lambda
         |FROM x5, range(64) i""".stripMargin
    },

    // q177: identical integer counts, cross-multiplied bounds and
    // conjunction
    "q177_gopher_gate" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT)
        |      AS n_wchars,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], x))) AS BIGINT)
        |      AS n_stop,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS n_unique,
        |    CAST(len(list_filter(t, x -> length(x) = 1)) AS BIGINT)
        |      AS n_short
        |  FROM base),
        |r AS (
        |  SELECT *,
        |    (n_words >= 30 AND n_words <= 100000) AS r_len,
        |    (n_wchars >= n_words * 3 AND n_wchars <= n_words * 10) AS r_mwl,
        |    (n_stop >= 2) AS r_stop,
        |    (n_unique * 1000000 // n_words >= 300000) AS r_uniq,
        |    (n_short * 10 <= n_words) AS r_short
        |  FROM f)
        |SELECT doc_id, n_words, n_wchars, n_stop, n_unique, n_short,
        |  r_len, r_mwl, r_stop, r_uniq, r_short,
        |  (r_len AND r_mwl AND r_stop AND r_uniq AND r_short) AS passes
        |FROM r""".stripMargin,

    // q178: same per-source counts, the same token-sorted ordered
    // fold of −p·ln p (ln ulp is the only cross-engine surface — the
    // PSI precedent — and round(_,6) sits after it)
    "q178_token_entropy" ->
      """WITH uni AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |ser AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    list(c ORDER BY w) AS cs
        |  FROM uni GROUP BY 1)
        |SELECT source, n_types, n_tokens,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE), cs),
        |    (a, c) -> a - (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |        * ln(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))), 6)
        |    AS entropy
        |FROM ser""".stripMargin,

    // q179: the same add-one-smoothed grid, terms built in w order
    // then folded (struct lists can't carry the double seed, so the
    // oracle folds a term list — identical per-element arithmetic)
    "q179_source_kl" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |corpus AS (SELECT w, CAST(count(*) AS BIGINT) AS cc
        |           FROM toks GROUP BY 1),
        |bysrc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS sc
        |          FROM toks GROUP BY 1, 2),
        |grid AS (
        |  SELECT s.source, c.w, c.cc, coalesce(b.sc, 0) AS sc
        |  FROM corpus c
        |  CROSS JOIN (SELECT DISTINCT source FROM toks) s
        |  LEFT JOIN bysrc b ON b.source = s.source AND b.w = c.w),
        |ser AS (
        |  SELECT source, CAST(sum(sc) AS BIGINT) AS n_src,
        |    CAST(sum(cc) AS BIGINT) AS n_corpus,
        |    CAST(count(*) AS BIGINT) AS v,
        |    list(sc ORDER BY w) AS scs,
        |    list(cc ORDER BY w) AS ccs
        |  FROM grid GROUP BY 1)
        |SELECT source, n_src, v,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    [(CAST(scs[i+1] + 1 AS DOUBLE) / CAST(n_src + v AS DOUBLE))
        |     * ln((CAST(scs[i+1] + 1 AS DOUBLE) / CAST(n_src + v AS DOUBLE))
        |         / (CAST(ccs[i+1] + 1 AS DOUBLE)
        |            / CAST(n_corpus + v AS DOUBLE)))
        |     for i in generate_series(0, CAST(v AS INT) - 1)]),
        |    (a, b) -> a + b), 6) AS kl
        |FROM ser""".stripMargin,

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

    // q181: the same six-way star with identical filters (round(2)
    // after the sum — the q01 float-sum convention)
    "q181_local_supplier_volume" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |GROUP BY 1""".stripMargin,

    // q182: priority filter in the JOIN condition (not WHERE) so
    // zero-order customers survive the outer join
    "q182_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey,
        |    CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1) t
        |GROUP BY 1""".stripMargin,

    // q183: same cross-multiplied integer predicate (5*qty*n < sum),
    // avg restricted to the brand's parts on both sides
    "q183_small_qty_revenue" ->
      """WITH lb AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |         l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'),
        |a AS (
        |  SELECT l_partkey AS a_partkey,
        |    CAST(sum(qty) AS BIGINT) AS sum_qty,
        |    CAST(count(*) AS BIGINT) AS n_li
        |  FROM lb GROUP BY 1)
        |SELECT round(sum(l_extendedprice), 2) AS total_revenue,
        |  CAST(count(*) AS BIGINT) AS n_small
        |FROM lb JOIN a ON l_partkey = a_partkey
        |WHERE 5 * qty * n_li < sum_qty""".stripMargin,

    // q184: the conditional-aggregation ratio; round only at the
    // final projection on BOTH sides (q01 convention)
    "q184_promo_share" ->
      """WITH a AS (
        |  SELECT
        |    sum(CASE WHEN p_type = 'PROMO'
        |        THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS pr,
        |    sum(l_extendedprice * (1 - l_discount)) AS tr
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1998-01-01')
        |SELECT round(pr, 2) AS promo_revenue,
        |  round(tr, 2) AS total_revenue,
        |  round(pr * 100 / tr, 2) AS promo_share
        |FROM a""".stripMargin,

    // q185: per-supplier sums round to cents BEFORE the max-equality
    // so both engines compare on the same lattice
    "q185_top_supplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM r)""".stripMargin,

    // q186: the OR-of-ANDs disjunction verbatim
    "q186_disjunctive_join" ->
      """SELECT
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // q187: nation in both roles, the two directed lanes, shipment
    // year as BIGINT on both sides
    "q187_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
        |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
        |  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,

    // q188: grouped conditional-aggregation ratio; region restricts
    // the customer side only
    "q188_market_share" ->
      """WITH a AS (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |    sum(CASE WHEN n1.n_name = 'NATION_5'
        |        THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS nr,
        |    sum(l_extendedprice * (1 - l_discount)) AS tr,
        |    CAST(count(*) AS BIGINT) AS n_items
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |    AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |  GROUP BY 1)
        |SELECT o_year, n_items, round(tr, 2) AS total_revenue,
        |  round(nr * 100 / tr, 2) AS mkt_share
        |FROM a""".stripMargin,

    // q189: per-part values and the global threshold BOTH round to
    // cents before the strict > (nearest part sits ~$800 off the
    // threshold at sf0.01 — no boundary sensitivity)
    "q189_part_concentration" ->
      """WITH pv AS (
        |  SELECT l_partkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
        |  FROM lineitem GROUP BY 1),
        |t AS (
        |  SELECT round(sum(l_extendedprice * (1 - l_discount)) * 0.00075, 2)
        |    AS thr
        |  FROM lineitem)
        |SELECT l_partkey, part_value
        |FROM pv, t WHERE part_value > thr""".stripMargin,

    // q190: scalar positive-balance average + NOT EXISTS trailing-
    // year order, rolled up by segment
    "q190_dormant_rich" ->
      """WITH thr AS (
        |  SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0),
        |recent AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '2000-07-01')
        |SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  round(sum(c_acctbal), 2) AS total_bal
        |FROM customer, thr
        |WHERE c_acctbal > a
        |  AND NOT EXISTS (SELECT 1 FROM recent
        |                  WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,

    // q191: the EXISTS/NOT-EXISTS pair as the same per-order
    // aggregate decorrelation the Spark side runs
    "q191_lone_return_supplier" ->
      """WITH lif AS (
        |  SELECT l_orderkey, l_suppkey, l_returnflag
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |per AS (
        |  SELECT l_orderkey AS p_orderkey,
        |    count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN l_returnflag = 'R'
        |          THEN l_suppkey END) AS n_r
        |  FROM lif GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS numwait
        |FROM lif
        |JOIN per ON l_orderkey = p_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_returnflag = 'R' AND n_supp >= 2 AND n_r = 1
        |GROUP BY 1, 2""".stripMargin,

    // q192: the q177 rule battery kept per source, UNION-ALL unpivot,
    // exact integer pass shares
    "q192_rule_source_matrix" ->
      """WITH base AS (
        |  SELECT source, text,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |f AS (
        |  SELECT source,
        |    CAST(len(t) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT)
        |      AS n_wchars,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], x))) AS BIGINT)
        |      AS n_stop,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS n_unique,
        |    CAST(len(list_filter(t, x -> length(x) = 1)) AS BIGINT)
        |      AS n_short
        |  FROM base),
        |r AS (
        |  SELECT source,
        |    (n_words >= 30 AND n_words <= 100000) AS r_len,
        |    (n_wchars >= n_words * 3 AND n_wchars <= n_words * 10) AS r_mwl,
        |    (n_stop >= 2) AS r_stop,
        |    (n_unique * 1000000 // n_words >= 300000) AS r_uniq,
        |    (n_short * 10 <= n_words) AS r_short
        |  FROM f),
        |un AS (
        |  SELECT source, 'r_len' AS rule, r_len AS pass FROM r
        |  UNION ALL SELECT source, 'r_mwl', r_mwl FROM r
        |  UNION ALL SELECT source, 'r_stop', r_stop FROM r
        |  UNION ALL SELECT source, 'r_uniq', r_uniq FROM r
        |  UNION ALL SELECT source, 'r_short', r_short FROM r)
        |SELECT source, rule, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) * 1000000 // count(*)
        |    AS BIGINT) AS pass_micro
        |FROM un GROUP BY 1, 2""".stripMargin,

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
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, d, x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS i
        |  FROM daily),
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

    // q197: same self-join dots + exact norms, one rounded
    // sqrt/division
    "q197_cooccurrence_sim" ->
      """WITH uc AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |dots AS (
        |  SELECT a.event_type AS type_1, b.event_type AS type_2,
        |    CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(a.c * b.c) AS BIGINT) AS dot
        |  FROM uc a JOIN uc b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |norms AS (
        |  SELECT event_type, CAST(sum(c * c) AS BIGINT) AS nsq
        |  FROM uc GROUP BY 1)
        |SELECT type_1, type_2, n_users, dot,
        |  round(dot / (sqrt(CAST(n1.nsq AS DOUBLE))
        |    * sqrt(CAST(n2.nsq AS DOUBLE))), 6) AS cosine
        |FROM dots
        |JOIN norms n1 ON type_1 = n1.event_type
        |JOIN norms n2 ON type_2 = n2.event_type""".stripMargin,

    // q199: the surviving rows are exactly the two valid slices — the
    // rejected batch must contribute NOTHING
    "q199_constraint_gate" ->
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 3 = 0 OR l_orderkey % 3 = 2
        |GROUP BY 1""".stripMargin,

    // q205: the CDC disposition relationally — survivors keep or
    // double their price, %97==1 keys deleted, shifted inserts at
    // original price
    "q205_cdc_replication" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice FROM orders),
        |after AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS p
        |  FROM base WHERE o_orderkey % 97 <> 1
        |  UNION ALL
        |  SELECT o_orderkey + 90000000, o_totalprice
        |  FROM base WHERE o_orderkey % 97 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |  round(sum(p), 2) AS total_price
        |FROM after""".stripMargin,

    // q206: the full sketch replayed relationally — portable rolling
    // hash, two xorshift-multiply avalanche rounds, bucket/width-23
    // register split, per-day max(rho), range re-merge, raw-vs-
    // linear-counting estimate. Every float is dyadic or a
    // CAST-to-DOUBLE constant so the doubles match Spark's bit-exactly
    "q206_hll_sketch_rollup" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(user_id AS VARCHAR) || ':' ||
        |      CAST(CAST(ts AS DATE) AS VARCHAR) AS key
        |  FROM events),
        |h0 AS (
        |  SELECT event_type, d,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(key, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM ev),
        |h1 AS (SELECT event_type, d,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT event_type, d,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |h3 AS (SELECT event_type, d, xor(h, h // 65536) AS h FROM h2),
        |daily_reg AS (
        |  SELECT event_type, d, h % 128 AS bucket,
        |    max(CASE WHEN (h // 128) % 8388608 > 0
        |        THEN 24 - length(bin((h // 128) % 8388608))
        |        ELSE 24 END) AS rho
        |  FROM h3 GROUP BY 1, 2, 3),
        |merged AS (
        |  SELECT event_type, bucket, max(rho) AS rho FROM daily_reg
        |  WHERE d BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS active_buckets,
        |    sum(1.0 / CAST(1 << rho AS DOUBLE)) + (128 - count(*)) AS z,
        |    128 - count(*) AS v
        |  FROM merged GROUP BY 1),
        |exact AS (
        |  SELECT event_type, CAST(count(DISTINCT user_id || ':' ||
        |    CAST(CAST(ts AS DATE) AS VARCHAR)) AS BIGINT) AS exact_user_days
        |  FROM events
        |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
        |  GROUP BY 1)
        |SELECT e.event_type, active_buckets,
        |  round(CASE WHEN (CAST(0.7213 AS DOUBLE) /
        |      (1 + CAST(1.079 AS DOUBLE) / 128)) * 16384 / z <= 320 AND v > 0
        |    THEN 128 * ln(128.0 / v)
        |    ELSE (CAST(0.7213 AS DOUBLE) /
        |      (1 + CAST(1.079 AS DOUBLE) / 128)) * 16384 / z END, 4)
        |    AS hll_user_days,
        |  exact_user_days
        |FROM est e JOIN exact x USING (event_type)""".stripMargin,

    // q207: the naive a<b<c chain join is fine as an ORACLE (DuckDB,
    // 60k rows); the engine side uses the degree-ordered orientation
    // — both count the same set exactly
    "q207_triangle_census" ->
      """WITH basket AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pairs AS (
        |  SELECT b1.p AS a, b2.p AS b FROM basket b1
        |  JOIN basket b2 ON b1.o = b2.o AND b1.p < b2.p),
        |edges AS (
        |  SELECT a, b FROM pairs GROUP BY a, b HAVING count(*) >= 2),
        |deg AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT CAST(count(*) AS BIGINT) AS t FROM edges e1
        |  JOIN edges e2 ON e2.a = e1.b
        |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
        |w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges FROM deg)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
        |  wedges AS n_wedges, t AS n_triangles,
        |  CAST(3 * t * 1000000 // greatest(wedges, 1) AS BIGINT)
        |    AS global_cc_micro
        |FROM w, tri""".stripMargin,

    // q208: same (t, d, n) lattice; the ln terms are built per death
    // row (identical arithmetic) then folded in dur order via
    // list_reduce; LEFT-join misses are filtered out of the fold and
    // coalesce to the empty product (survival 1)
    "q208_kaplan_meier" ->
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
        |  FROM summary),
        |deaths AS (
        |  SELECT event_type AS et, dur, n_death,
        |    CASE WHEN n_death < n_risk
        |      THEN ln(CAST(n_risk - n_death AS DOUBLE)
        |              / CAST(n_risk AS DOUBLE))
        |      ELSE CAST(-1000 AS DOUBLE) END AS term
        |  FROM risk WHERE n_death > 0),
        |grid AS (
        |  SELECT event_type, horizon_s
        |  FROM (SELECT DISTINCT event_type FROM obs),
        |       (SELECT CAST(unnest([21600, 86400, 259200]) AS BIGINT)
        |          AS horizon_s))
        |SELECT g.event_type, g.horizon_s,
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

    // q212: same rank-matched battles and the same 5 MM floor
    // iterations as a WITH RECURSIVE list fold (q210 mechanics)
    "q212_bradley_terry" ->
      s"""WITH RECURSIVE base AS (
        |  SELECT doc_id, source, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, source,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS sm
        |  FROM base),
        |rk AS (
        |  SELECT doc_id, source, sm,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY sm DESC, doc_id) AS BIGINT) AS r
        |  FROM sc),
        |battles AS (
        |  SELECT a.source AS sa, b.source AS sb,
        |    CASE WHEN a.sm > b.sm
        |           OR (a.sm = b.sm AND a.doc_id < b.doc_id)
        |      THEN 1 ELSE 0 END AS wa
        |  FROM rk a JOIN rk b ON a.r = b.r AND a.source < b.source),
        |matrix AS (
        |  SELECT sa, sb, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(wa) AS BIGINT) AS w
        |  FROM battles GROUP BY 1, 2),
        |edges AS (
        |  SELECT sa AS i, sb AS j, n, w FROM matrix
        |  UNION ALL SELECT sb, sa, n, n - w FROM matrix),
        |peritem AS (
        |  SELECT i AS source, CAST(sum(w) AS BIGINT) AS n_wins,
        |    CAST(sum(n) AS BIGINT) AS n_battles
        |  FROM edges GROUP BY 1),
        |lists AS (
        |  SELECT list(struct_pack(i := i, j := j, n := n, w := w)) AS edges,
        |    list_sort(list(DISTINCT i)) AS items
        |  FROM edges),
        |rec AS (
        |  SELECT edges, items, 0 AS it,
        |    list_transform(items, x -> CAST(1000000 AS BIGINT)) AS s
        |  FROM lists
        |  UNION ALL
        |  SELECT edges, items, it + 1,
        |    list_transform(items, x ->
        |      CAST(CAST(coalesce(list_sum(list_transform(
        |          list_filter(edges, e -> e.i = x), e -> e.w)), 0)
        |        AS BIGINT) * 1000000000000
        |      // greatest(CAST(coalesce(list_sum(list_transform(
        |          list_filter(edges, e -> e.i = x),
        |          e -> e.n * 1000000000000 // greatest(
        |            s[list_position(items, e.i)]
        |            + s[list_position(items, e.j)], 1))), 0) AS BIGINT),
        |        1) AS BIGINT))
        |  FROM rec WHERE it < 5),
        |fin AS (
        |  SELECT unnest(items) AS source, unnest(s) AS sv,
        |    CAST(list_sum(s) AS BIGINT) AS stot,
        |    len(items) AS ni
        |  FROM rec WHERE it = 5)
        |SELECT p.source, p.n_wins, p.n_battles,
        |  CAST(sv * (ni * 1000000) // greatest(stot, 1) AS BIGINT)
        |    AS bt_micro
        |FROM fin f JOIN peritem p ON p.source = f.source""".stripMargin,

    // q213: same join + round-before-cut + full tie-break order
    "q213_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-06-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1997-06-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_date ASC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    // q214: the EXISTS form the semi join decorrelates
    "q214_priority_exists" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1""".stripMargin,

    // q215: same joins, round-before-cut, (revenue, custkey) order
    "q215_returned_customers" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    // q216: HAVING subquery as a derived table on exact BIGINTs
    "q216_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING total_qty > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_date,
        |  round(o_totalprice, 2) AS o_price, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,

    // q217: the Q12 conditional-count split on the adapted schema
    "q217_priority_class" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |GROUP BY 1""".stripMargin,

    // q211: identical binning/rank arithmetic; min(struct) becomes
    // min_by over the first qualifying bin (arg-min on bin)
    "q211_histogram_quantile_rollup" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS vm
        |  FROM events),
        |binned AS (
        |  SELECT event_type, d, least(vm // 4000000, 249) AS bin
        |  FROM ev),
        |merged AS (
        |  SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
        |  FROM binned
        |  WHERE d BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS total
        |  FROM merged),
        |pcts AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct),
        |ranked AS (SELECT c.*, p.pct, (total * pct + 99) // 100 AS r
        |           FROM cum c, pcts p),
        |hits AS (
        |  SELECT event_type, pct, min(bin) AS bin
        |  FROM ranked WHERE cum >= r GROUP BY 1, 2),
        |hist AS (
        |  SELECT rk.event_type, rk.pct,
        |    rk.bin * 4000000 + (rk.r - (rk.cum - rk.cnt)) * 4000000
        |      // rk.cnt AS hist_p_micro,
        |    CAST(rk.total AS BIGINT) AS n_obs
        |  FROM ranked rk JOIN hits h
        |    ON rk.event_type = h.event_type AND rk.pct = h.pct
        |   AND rk.bin = h.bin),
        |raw AS (
        |  SELECT event_type, vm, CAST(count(*) AS BIGINT) AS c
        |  FROM ev
        |  WHERE d BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
        |  GROUP BY 1, 2),
        |rcum AS (
        |  SELECT event_type, vm,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY vm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS total
        |  FROM raw),
        |exact AS (
        |  SELECT event_type, pct, CAST(min(vm) AS BIGINT) AS exact_p_micro
        |  FROM rcum, pcts WHERE cum * 100 >= total * pct
        |  GROUP BY 1, 2)
        |SELECT event_type, pct,
        |  CAST(hist_p_micro AS BIGINT) AS hist_p_micro,
        |  exact_p_micro, n_obs
        |FROM hist JOIN exact USING (event_type, pct)""".stripMargin,

    // q209: the generated column is definitionally month(o_orderdate)
    "q209_generated_columns" ->
      """SELECT CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY 1""".stripMargin,

    // q204: the same four statistics from the same bigram-type table;
    // positive operands throughout so DIV == //. The bigram list
    // mirrors ngramsAll(text, 2) (partial last gram filtered by the
    // two-token guard on both sides)
    "q204_kneser_ney" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT g[1] AS w1, g[2] AS w2
        |  FROM (
        |    SELECT unnest([t[i+1:i+2]
        |      for i in generate_series(0, greatest(len(t)-2, 0))]) AS g
        |    FROM toks)
        |  WHERE len(g) = 2),
        |b AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM pairs GROUP BY 1, 2),
        |pw1 AS (
        |  SELECT w1 AS a_w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    CAST(count(*) AS BIGINT) AS n1fw
        |  FROM b GROUP BY 1),
        |pw2 AS (
        |  SELECT w2 AS b_w2, CAST(count(*) AS BIGINT) AS n1pw
        |  FROM b GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM b)
        |SELECT w1, w2, c12, c1, n1fw, n1pw,
        |  CAST((4 * c12 - 3) * 1000000 // (4 * c1)
        |    + 3 * n1fw * n1pw * 1000000 // (4 * c1 * tt) AS BIGINT)
        |    AS p_kn_micro
        |FROM b
        |JOIN pw1 ON w1 = a_w1
        |JOIN pw2 ON w2 = b_w2, t""".stripMargin,

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

    // q202: the q19 shingle CTE at n=8, df via grouped count (grams
    // are distinct per doc), exact integer micro share
    "q202_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+8], ' ')
        |     for i in generate_series(0, greatest(len(t)-8, 0))])) AS g
        |  FROM toks),
        |df8 AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS novel_micro
        |FROM sh JOIN df8 USING (g) GROUP BY 1""".stripMargin,

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

    // q198: integer centroids, the q25 ordered-fold cosine, exact
    // sufficient statistics, |n·x − Σx| vs 2·√(nΣx²−(Σx)²)
    "q198_embedding_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |cd AS (
        |  SELECT label, dim,
        |    CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT))
        |      // count(*) AS BIGINT) AS cmean
        |  FROM (SELECT label, i - 1 AS dim, v[i] AS x
        |        FROM e, (SELECT unnest(generate_series(1,
        |          (SELECT max(len(v)) FROM e))) AS i) g)
        |  GROUP BY 1, 2),
        |cv AS (
        |  SELECT label,
        |    list(CAST(cmean AS DOUBLE) ORDER BY dim) AS cvec
        |  FROM cd GROUP BY 1),
        |scored AS (
        |  SELECT e.label, e.vec_id,
        |    CAST(round(
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        [e.v[i+1] * cvec[i+1] for i in generate_series(0, len(e.v)-1)]),
        |        (acc, x) -> acc + x)
        |      / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           [e.v[i+1] * e.v[i+1] for i in generate_series(0, len(e.v)-1)]),
        |           (acc, x) -> acc + x))
        |       * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           [cvec[i+1] * cvec[i+1] for i in generate_series(0, len(cvec)-1)]),
        |           (acc, x) -> acc + x)))
        |      * 1000000.0) AS BIGINT) AS c_micro
        |  FROM e JOIN cv ON e.label = cv.label),
        |st AS (
        |  SELECT label AS s_label, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c_micro) AS BIGINT) AS sx,
        |    CAST(sum(c_micro * c_micro) AS BIGINT) AS sxx
        |  FROM scored GROUP BY 1)
        |SELECT label, vec_id, c_micro,
        |  (CAST(abs(n * c_micro - sx) AS DOUBLE)
        |    > 2.0 * sqrt(CAST(n * sxx - sx * sx AS DOUBLE))) AS is_outlier
        |FROM scored JOIN st ON label = s_label""".stripMargin,

    // q174: the same doc_id-ordered running offsets + per-L integer
    // arithmetic, one UNION ALL branch per candidate length
    "q174_packing_sweep" -> {
      def branch(l: Int): String =
        s"""SELECT CAST($l AS BIGINT) AS seq_len,
           |  CAST(sum(n) AS BIGINT) AS total_tokens,
           |  CAST((sum(n) + ${l - 1}) // $l AS BIGINT) AS n_seqs,
           |  CAST(sum(CASE WHEN n > 0 AND s // $l <> (e - 1) // $l
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           |  CAST(((sum(n) + ${l - 1}) // $l) * $l - sum(n) AS BIGINT)
           |    AS tail_pad
           |FROM o2""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS n
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, n,
         |    CAST(sum(n) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS e
         |  FROM t),
         |o2 AS (SELECT doc_id, n, e - n AS s, e FROM o)
         |${Seq(256, 512, 1024).map(branch).mkString("\nUNION ALL\n")}"""
        .stripMargin
    },

    // q136: q43's recursive-CTE clusters + per-cluster counts; the
    // weight is exact integer division on both engines
    "q136_cluster_weights" ->
      s"""WITH RECURSIVE $dedupClusterCtes,
         |resolved AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
         |sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM resolved GROUP BY 1)
         |SELECT r.doc_id, r.cluster_id, s.cluster_size,
         |  CAST(1000000 // s.cluster_size AS BIGINT) AS weight_micro
         |FROM resolved r JOIN sizes s USING (cluster_id)""".stripMargin,

    // q43's component chain with the keep-longest survivor policy:
    // per-cluster argmax by (n_chars desc, doc_id asc)
    "q106_dedup_keep_longest" -> q106OracleSql,

    // greedy token-budget prefix: window cumulative sum under the
    // (alpha_micro desc, doc_id) order, integer fixed-point priority
    "q107_token_budget" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000000
        |      AS BIGINT) // greatest(length(text), 1) AS alpha_micro
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens, alpha_micro,
        |    sum(n_tokens) OVER (ORDER BY alpha_micro DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_end
        |  FROM c)
        |SELECT doc_id, n_tokens, alpha_micro,
        |  CAST(tok_end - n_tokens AS BIGINT) AS tok_start,
        |  CAST(tok_end AS BIGINT) AS tok_end
        |FROM o WHERE tok_end <= 20000""".stripMargin,

    // PSI per source vs the whole corpus: dense 16-bucket grid,
    // add-one smoothing, identical parenthesization, floored 1e-6
    // terms summed as BIGINT (order-free; ln ulp is the accepted
    // cross-engine surface)
    "q108_psi_drift" ->
      """WITH c AS (
        |  SELECT source,
        |    least(CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |      AS BIGINT) // 32, 15) AS b
        |  FROM documents),
        |counts AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c
        |  FROM c GROUP BY 1, 2),
        |groups AS (SELECT source, CAST(sum(c) AS BIGINT) AS gt
        |  FROM counts GROUP BY 1),
        |pop AS (SELECT b, CAST(sum(c) AS BIGINT) AS pc FROM counts GROUP BY 1),
        |poptot AS (SELECT CAST(sum(pc) AS BIGINT) AS pt FROM pop),
        |grid AS (
        |  SELECT g.source, g.gt, CAST(i.range AS BIGINT) AS b
        |  FROM groups g, range(16) i),
        |terms AS (
        |  SELECT gr.source, gr.gt,
        |    CAST(floor(1000000.0 * (
        |      ((CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
        |          / CAST(gr.gt + 16 AS DOUBLE))
        |       - (CAST(coalesce(p.pc, 0) + 1 AS DOUBLE)
        |          / CAST(pt.pt + 16 AS DOUBLE)))
        |      * ln((CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
        |            / CAST(gr.gt + 16 AS DOUBLE))
        |          / (CAST(coalesce(p.pc, 0) + 1 AS DOUBLE)
        |            / CAST(pt.pt + 16 AS DOUBLE)))))
        |      AS BIGINT) AS t
        |  FROM grid gr
        |  LEFT JOIN counts ct ON gr.source = ct.source AND gr.b = ct.b
        |  LEFT JOIN pop p ON gr.b = p.b
        |  CROSS JOIN poptot pt)
        |SELECT source, CAST(sum(t) AS BIGINT) AS psi_micro,
        |  gt AS n_rows
        |FROM terms GROUP BY source, gt""".stripMargin,

    // the streaming monitor's per-day windows replayed relationally:
    // same dense-grid smoothing, reference = the whole table
    "q109_stream_psi" ->
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    least(CAST(floor(value / 32) AS BIGINT), 15) AS b
        |  FROM events),
        |ref AS (SELECT b, CAST(count(*) AS BIGINT) AS rc FROM c GROUP BY 1),
        |rt AS (SELECT CAST(sum(rc) AS BIGINT) AS t FROM ref),
        |days AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
        |grid AS (
        |  SELECT dy.d, dy.n, CAST(i.range AS BIGINT) AS b
        |  FROM days dy, range(16) i),
        |counts AS (SELECT d, b, CAST(count(*) AS BIGINT) AS c
        |  FROM c GROUP BY 1, 2),
        |terms AS (
        |  SELECT g.d, g.n,
        |    CAST(floor(1000000.0 * (
        |      ((CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
        |          / CAST(g.n + 16 AS DOUBLE))
        |       - (CAST(coalesce(r.rc, 0) + 1 AS DOUBLE)
        |          / CAST(rt.t + 16 AS DOUBLE)))
        |      * ln((CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
        |            / CAST(g.n + 16 AS DOUBLE))
        |          / (CAST(coalesce(r.rc, 0) + 1 AS DOUBLE)
        |            / CAST(rt.t + 16 AS DOUBLE)))))
        |      AS BIGINT) AS t
        |  FROM grid g
        |  LEFT JOIN counts ct ON g.d = ct.d AND g.b = ct.b
        |  LEFT JOIN ref r ON g.b = r.b
        |  CROSS JOIN rt)
        |SELECT d, CAST(sum(t) AS BIGINT) AS psi_micro, n AS n_rows
        |FROM terms GROUP BY d, n""".stripMargin,

    // KS per source vs the whole corpus: dense grid, integer cumsums,
    // one correctly-rounded division per side, order-free max — the
    // only oracle in the drift family with zero ulp surface
    "q111_ks_drift" ->
      """WITH c AS (
        |  SELECT source,
        |    least(CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |      AS BIGINT) // 32, 15) AS b
        |  FROM documents),
        |counts AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c
        |  FROM c GROUP BY 1, 2),
        |groups AS (SELECT source, CAST(sum(c) AS BIGINT) AS gt
        |  FROM counts GROUP BY 1),
        |pop AS (SELECT b, CAST(sum(c) AS BIGINT) AS pc FROM counts GROUP BY 1),
        |poptot AS (SELECT CAST(sum(pc) AS BIGINT) AS pt FROM pop),
        |grid AS (
        |  SELECT g.source, g.gt, CAST(i.range AS BIGINT) AS b
        |  FROM groups g, range(16) i),
        |cums AS (
        |  SELECT gr.source, gr.gt, gr.b,
        |    sum(coalesce(ct.c, 0)) OVER (PARTITION BY gr.source
        |      ORDER BY gr.b ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cg,
        |    sum(coalesce(p.pc, 0)) OVER (PARTITION BY gr.source
        |      ORDER BY gr.b ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cp,
        |    pt.pt
        |  FROM grid gr
        |  LEFT JOIN counts ct ON gr.source = ct.source AND gr.b = ct.b
        |  LEFT JOIN pop p ON gr.b = p.b
        |  CROSS JOIN poptot pt)
        |SELECT source,
        |  CAST(floor(1000000.0 * max(abs(
        |    CAST(cg AS DOUBLE) / CAST(gt AS DOUBLE)
        |    - CAST(cp AS DOUBLE) / CAST(pt AS DOUBLE)))) AS BIGINT)
        |    AS ks_micro,
        |  gt AS n_rows
        |FROM cums GROUP BY source, gt""".stripMargin,

    // SQ8: refit per-dim ranges, re-encode, decode and ADC-rank
    // relationally — identical parenthesization to ScalarQuantizer
    // (code = floor(((v-mn)*255)/(mx-mn)+0.5) clamped; decode =
    // mn + ((code*(mx-mn))/255); seq-fold dot over the decoded list)
    "q112_sq8_ann" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |mm AS (
        |  SELECT CAST(i.range AS INT) AS d,
        |    min(v[i.range + 1]) AS mn, max(v[i.range + 1]) AS mx
        |  FROM e CROSS JOIN range(64) i GROUP BY 1),
        |codes AS (
        |  SELECT e.vec_id, m.d, m.mn, m.mx,
        |    CASE WHEN m.mx = m.mn THEN 0
        |      ELSE least(greatest(CAST(floor(((e.v[m.d + 1] - m.mn) * 255.0)
        |        / (m.mx - m.mn) + 0.5) AS BIGINT), 0), 255) END AS code
        |  FROM e CROSS JOIN mm m),
        |dec AS (
        |  SELECT vec_id,
        |    list(mn + ((CAST(code AS DOUBLE) * (mx - mn)) / 255.0)
        |      ORDER BY d) AS dv
        |  FROM codes GROUP BY vec_id),
        |norms AS (
        |  SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    [v[i+1] * v[i+1] for i in generate_series(0, len(v)-1)]),
        |    (acc, x) -> acc + x)) AS nrm
        |  FROM e),
        |scored AS (
        |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [q.v[i+1] * d.dv[i+1] for i in generate_series(0, len(q.v)-1)]),
        |      (acc, x) -> acc + x) / (qn.nrm * cn.nrm) AS cos
        |  FROM e q
        |  JOIN norms qn ON q.vec_id = qn.vec_id
        |  CROSS JOIN dec d
        |  JOIN norms cn ON d.vec_id = cn.vec_id
        |  WHERE q.vec_id < 8 AND q.vec_id <> d.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // q113: q72's window-hash machinery extended through the removal
    // rewrite — keep the globally-first occurrence per repeated
    // window (row_number over (doc_id, pos)), delete every other
    // occurrence's token span, string_agg the survivors in order
    "q113_dup_span_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos,
        |    unnest(ws) AS win
        |  FROM (SELECT doc_id,
        |          [array_to_string(t[i+1:i+8], ' ')
        |           for i in generate_series(0, greatest(len(t)-8, 0))] AS ws
        |        FROM toks)),
        |hashed AS (
        |  SELECT doc_id, pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(win, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM wins),
        |flagged AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      count(*) OVER (PARTITION BY h) AS cnt,
        |      row_number() OVER (PARTITION BY h
        |        ORDER BY doc_id, pos) AS rn
        |    FROM hashed)
        |  WHERE cnt >= 2 AND rn > 1),
        |rem AS (
        |  SELECT DISTINCT doc_id, pos + i.range AS tp
        |  FROM flagged CROSS JOIN range(8) i),
        |tokpos AS (
        |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS tp,
        |    unnest(t) AS tok
        |  FROM toks),
        |reb AS (
        |  SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(k.tok, ' ' ORDER BY k.tp) AS txt
        |  FROM tokpos k LEFT JOIN rem r
        |    ON k.doc_id = r.doc_id AND k.tp = r.tp
        |  WHERE r.doc_id IS NULL
        |  GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  coalesce(r.n_kept, 0) AS n_kept,
        |  CAST(len(t.t) AS BIGINT) - coalesce(r.n_kept, 0) AS n_removed,
        |  coalesce(r.txt, '') AS text_scrubbed
        |FROM toks t LEFT JOIN reb r ON t.doc_id = r.doc_id""".stripMargin,

    // q114: refit the top-256 head vocabulary (count desc, token asc)
    // and re-score per source — counts and the DIV rate are exact
    // integers, no float surface
    "q114_oov_drift" ->
      """WITH toks AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS c FROM toks GROUP BY 1)
        |  ORDER BY c DESC, tok ASC LIMIT 256)
        |SELECT t.source,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(CASE WHEN v.tok IS NULL THEN 1 END) AS BIGINT) AS n_oov,
        |  CAST(count(CASE WHEN v.tok IS NULL THEN 1 END) AS BIGINT)
        |    * 1000000 // CAST(count(*) AS BIGINT) AS oov_micro
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY 1""".stripMargin,

    // q115: q38's session CTE rolled to [min ts, max ts] intervals,
    // overlap-joined (closed-interval semantics) against each day's
    // 10:00-13:59:59 window; overlap length in exact epoch seconds
    "q115_session_overlap" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
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

    // q116: q84's generator arithmetic composed with the
    // nearest-neighbor index map — resized pixel (x2, y2) reads source
    // ((x2*w)//4, (y2*h)//3); strips run over the 4x3 target
    "q116_image_resize" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, i.range AS dim,
        |    (i.range * 4) // 4 AS x0, ((i.range + 1) * 4) // 4 AS x1
        |  FROM ids, range(4) i),
        |px AS (
        |  SELECT c.doc_id, c.dim,
        |    CAST(sum(3 * ((c.doc_id * 31 + 7 * ((x.range * c.w) // 4)
        |        + 13 * ((y.range * c.h) // 3)) % 256)) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM cells c, range(4) x, range(3) y
        |  WHERE x.range >= c.x0 AND x.range < c.x1
        |  GROUP BY 1, 2)
        |SELECT doc_id, dim, round(s / (3.0 * 255.0 * n), 6) AS feature
        |FROM px""".stripMargin,

    // q128: generator arithmetic composed through flip-then-crop:
    // out(x, y) = gen(w-1-x0-x, y0+y), x0 = (w-4)//2, y0 = (h-3)//2;
    // k=4 strips over the 4x3 crop = one column x 3 rows per dim
    "q128_image_augment" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT i.doc_id, CAST(x.range AS BIGINT) AS dim,
        |    CAST(sum(3 * ((i.doc_id * 31
        |        + 7 * (i.w - 1 - ((i.w - 4) // 2) - x.range)
        |        + 13 * (((i.h - 3) // 2) + y.range)) % 256)) AS BIGINT) AS s
        |  FROM ids i, range(4) x, range(3) y
        |  GROUP BY 1, 2)
        |SELECT doc_id, dim, round(s / (3.0 * 255.0 * 3.0), 6) AS feature
        |FROM px""".stripMargin,

    // q129: q86's window features with the sample index reversed —
    // reversed(t) = gen(n-1-t), PCM roundtrip lossless
    "q129_audio_reverse" ->
      """WITH ids AS (
        |  SELECT doc_id, 400 + doc_id % 100 AS n FROM documents),
        |cells AS (
        |  SELECT doc_id, n, i.range AS dim,
        |    (i.range * n) // 4 AS t0, ((i.range + 1) * n) // 4 AS t1
        |  FROM ids, range(4) i),
        |px AS (
        |  SELECT c.doc_id, c.dim,
        |    sum(abs((c.doc_id * 31 + (c.n - 1 - t.range) * 17) % 4093
        |      - 2046)) AS s,
        |    count(*) AS cnt
        |  FROM cells c, range(500) t
        |  WHERE t.range >= c.t0 AND t.range < c.t1
        |  GROUP BY 1, 2)
        |SELECT doc_id, dim, round(s / (32768.0 * cnt), 6) AS feature
        |FROM px""".stripMargin,

    // q130: frame energies replayed from the tone generator (integer-
    // exact), threshold, then gaps-and-islands segmentation — the
    // same window arithmetic as the Spark side
    "q130_audio_vad" ->
      """WITH ids AS (
        |  SELECT doc_id, 400 + doc_id % 100 AS n FROM documents),
        |frames AS (
        |  SELECT doc_id, f.range AS frame, n
        |  FROM ids, range(9) f WHERE f.range < n // 50),
        |en AS (
        |  SELECT fr.doc_id, fr.frame,
        |    CAST(sum(abs((fr.doc_id * 31 + (fr.frame * 50 + t.range) * 17)
        |      % 4093 - 2046)) AS BIGINT) AS energy
        |  FROM frames fr, range(50) t
        |  GROUP BY 1, 2),
        |act AS (
        |  SELECT doc_id, frame, energy,
        |    frame - row_number() OVER (
        |      PARTITION BY doc_id ORDER BY frame) AS grp
        |  FROM en WHERE energy > 51000)
        |SELECT doc_id, CAST(min(frame) AS BIGINT) AS seg_start,
        |  CAST(max(frame) AS BIGINT) AS seg_end,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(energy) AS BIGINT) AS seg_energy
        |FROM act GROUP BY doc_id, grp""".stripMargin,

    // q131: dHash replayed from the generator THROUGH the nearest-
    // resize index map (sx = x*w//9, sy = y*h//8; gray so luminance
    // == v exactly since 299+587+114 = 1000), band keys as 16-bit
    // sums, candidates from band equality, exact Hamming per pair
    "q131_image_dhash_neardup" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, gx.range AS x, gy.range AS y
        |  FROM ids, range(9) gx, range(8) gy),
        |px AS (
        |  SELECT doc_id, x, y,
        |    (doc_id * 31 + 7 * ((x * w) // 9) + 13 * ((y * h) // 8))
        |      % 256 AS v
        |  FROM cells),
        |bits AS (
        |  SELECT a.doc_id, a.y * 8 + a.x AS pos,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b
        |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |bands AS (
        |  SELECT doc_id, pos // 16 AS band_idx,
        |    CAST(sum(bit << (pos % 16)) AS BIGINT) AS band_key
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON b.band_idx = a.band_idx AND b.band_key = a.band_key
        |    AND a.doc_id < b.doc_id),
        |ham AS (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bits ba ON ba.doc_id = c.doc_a
        |  JOIN bits bb ON bb.doc_id = c.doc_b AND bb.pos = ba.pos
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin,

    // q132: q25's scoring with a label anti-filter and the semi-hard
    // ceiling on the UNROUNDED cosine (identical fold order on both
    // engines makes the threshold comparison exact)
    "q132_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [q.v[i+1] * c.v[i+1] for i in generate_series(0, len(q.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [q.v[i+1] * q.v[i+1] for i in generate_series(0, len(q.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [c.v[i+1] * c.v[i+1] for i in generate_series(0, len(c.v)-1)]),
        |         (acc, x) -> acc + x))) AS cos
        |  FROM e q, e c
        |  WHERE q.vec_id < 16 AND q.label <> c.label),
        |kept AS (
        |  SELECT * FROM scored WHERE cos <= 0.35),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM kept)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // q133: the Viterbi optimum re-derived by BRUTE-FORCE path
    // enumeration (recursive CTE over all segmentations — bounded:
    // corpus words are short) + the same (score DESC, n ASC,
    // path ASC) argmax; doc reassembly is the q124 widx pattern
    "q133_unigram_encode" -> {
      val vocabVals = graft.core.Unigram.FixedScores.toSeq.sortBy(_._1)
        .map { case (p, sc) => s"('$p', $sc)" }.mkString(", ")
      s"""WITH RECURSIVE
        |vocab(piece, s) AS (SELECT * FROM (VALUES $vocabVals)),
        |words AS (
        |  SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        |  FROM documents),
        |paths AS (
        |  SELECT w, 0 AS pos, CAST('' AS VARCHAR) AS path,
        |    CAST(0 AS BIGINT) AS score, 0 AS n
        |  FROM words
        |  UNION ALL
        |  SELECT p.w, p.pos + len(v.piece),
        |    CASE WHEN p.path = '' THEN v.piece
        |         ELSE p.path || ' ' || v.piece END,
        |    p.score + v.s, p.n + 1
        |  FROM paths p JOIN vocab v
        |    ON v.piece = substr(p.w, p.pos + 1, len(v.piece))
        |  WHERE p.pos < len(p.w)),
        |best AS (
        |  SELECT w, path, score, n,
        |    row_number() OVER (PARTITION BY w
        |      ORDER BY score DESC, n ASC, path ASC) AS rn
        |  FROM paths WHERE pos = len(w)),
        |enc AS (
        |  SELECT wd.w, coalesce(b.path, '[UNK]') AS path,
        |    coalesce(b.score, 0) AS score, coalesce(b.n, 1) AS np
        |  FROM words wd LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |    ON wd.w = b.w),
        |toks AS (
        |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS widx,
        |    unnest(t) AS w
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        |        FROM documents))
        |SELECT tk.doc_id, count(*) AS n_words,
        |  CAST(sum(e.np) AS BIGINT) AS n_pieces,
        |  CAST(sum(e.score) AS BIGINT) AS score_total,
        |  string_agg(e.path, ' ' ORDER BY tk.widx) AS text_pieces
        |FROM toks tk JOIN enc e ON tk.w = e.w
        |GROUP BY tk.doc_id""".stripMargin
    },

    // q134: both cascade stages replayed — coarse cosine over v[1:16]
    // (DuckDB slices are 1-based inclusive = the Spark slice(v,1,16)),
    // survivors by crank <= 20, exact full-dim re-rank
    "q134_matryoshka_rerank" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |t AS (
        |  SELECT vec_id, v, v[1:16] AS tv FROM e),
        |coarse AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [q.tv[i+1] * c.tv[i+1] for i in generate_series(0, len(q.tv)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [q.tv[i+1] * q.tv[i+1] for i in generate_series(0, len(q.tv)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [c.tv[i+1] * c.tv[i+1] for i in generate_series(0, len(c.tv)-1)]),
        |         (acc, x) -> acc + x))) AS cos_t
        |  FROM t q, t c
        |  WHERE q.vec_id < 12 AND q.vec_id <> c.vec_id),
        |surv AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos_t DESC, neighbor_id ASC) AS crank
        |    FROM coarse) WHERE crank <= 20),
        |fine AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [q.v[i+1] * c.v[i+1] for i in generate_series(0, len(q.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [q.v[i+1] * q.v[i+1] for i in generate_series(0, len(q.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [c.v[i+1] * c.v[i+1] for i in generate_series(0, len(c.v)-1)]),
        |         (acc, x) -> acc + x))) AS cos
        |  FROM surv s
        |  JOIN e q ON q.vec_id = s.query_id
        |  JOIN e c ON c.vec_id = s.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM fine)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // q135: q74's placement CTE under the rendered-token cost model,
    // plus the mask intersection [doc_off, doc_off+n_toks) x
    // [n_prompt, n) re-based by seq_off
    "q135_sft_pack_masks" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(
        |      '<|user|> ' || lang || ' ' || source || ' <|assistant|>'),
        |      '\s+')) AS BIGINT) AS np,
        |    CAST(len(regexp_split_to_array(trim(
        |      '<|user|> ' || lang || ' ' || source || ' <|assistant|> '
        |      || coalesce(text, '') || ' <|end|>'),
        |      '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, np, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS e
        |  FROM tok),
        |placed AS (SELECT doc_id, np, n, e - n AS s, e FROM cum WHERE n > 0),
        |ex AS (
        |  SELECT doc_id, np, n, s, e,
        |    unnest(generate_series(s // 128, (e - 1) // 128)) AS seq_id
        |  FROM placed),
        |m AS (
        |  SELECT doc_id, seq_id, np, n,
        |    greatest(s, seq_id * 128) - seq_id * 128 AS seq_off,
        |    greatest(seq_id * 128 - s, 0) AS doc_off,
        |    least(e, (seq_id + 1) * 128) - greatest(s, seq_id * 128) AS n_toks
        |  FROM ex)
        |SELECT seq_id, doc_id, seq_off, n_toks,
        |  CASE WHEN least(doc_off + n_toks, n) - greatest(doc_off, np) > 0
        |       THEN seq_off + greatest(doc_off, np) - doc_off
        |       ELSE -1 END AS loss_off,
        |  greatest(least(doc_off + n_toks, n) - greatest(doc_off, np), 0)
        |    AS loss_len
        |FROM m""".stripMargin,

    // q137: per-step correlated min-after-prev joins on floored epoch
    // seconds; stage from the same window arithmetic
    "q137_funnel" ->
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
        |  WHERE et = 'purchase' GROUP BY 1),
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

    // q139: q131's hash/band CTEs + the capped first-match-band
    // semantics — a pair survives iff its FIRST matching band's
    // bucket is within [2, 40] (later-band duplicates are pruned by
    // the engine's first-match filter, so the cap applies THERE)
    "q139_dhash_neardup_capped" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, gx.range AS x, gy.range AS y
        |  FROM ids, range(9) gx, range(8) gy),
        |px AS (
        |  SELECT doc_id, x, y,
        |    (doc_id * 31 + 7 * ((x * w) // 9) + 13 * ((y * h) // 8))
        |      % 256 AS v
        |  FROM cells),
        |bits AS (
        |  SELECT a.doc_id, a.y * 8 + a.x AS pos,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b
        |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |bands AS (
        |  SELECT doc_id, pos // 16 AS band_idx,
        |    CAST(sum(bit << (pos % 16)) AS BIGINT) AS band_key
        |  FROM bits GROUP BY 1, 2),
        |bsz AS (
        |  SELECT band_idx, band_key, count(*) AS d
        |  FROM bands GROUP BY 1, 2),
        |matches AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.band_idx, a.band_key,
        |    row_number() OVER (PARTITION BY a.doc_id, b.doc_id
        |      ORDER BY a.band_idx) AS rn
        |  FROM bands a JOIN bands b
        |    ON b.band_idx = a.band_idx AND b.band_key = a.band_key
        |    AND a.doc_id < b.doc_id),
        |cand AS (
        |  SELECT m.doc_a, m.doc_b
        |  FROM matches m JOIN bsz s
        |    ON s.band_idx = m.band_idx AND s.band_key = m.band_key
        |  WHERE m.rn = 1 AND s.d <= 40),
        |ham AS (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bits ba ON ba.doc_id = c.doc_a
        |  JOIN bits bb ON bb.doc_id = c.doc_b AND bb.pos = ba.pos
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin,

    // q140: q130's energy replay at frameSize 6 -> 64 delta bits ->
    // q131's band/candidate/hamming CTEs verbatim
    "q140_audio_fingerprint_neardup" ->
      """WITH ids AS (
        |  SELECT doc_id, 400 + doc_id % 100 AS n FROM documents),
        |frames AS (
        |  SELECT doc_id, f.range AS frame
        |  FROM ids, range(65) f),
        |en AS (
        |  SELECT fr.doc_id, fr.frame,
        |    CAST(sum(abs((fr.doc_id * 31 + (fr.frame * 6 + t.range) * 17)
        |      % 4093 - 2046)) AS BIGINT) AS energy
        |  FROM frames fr, range(6) t
        |  GROUP BY 1, 2),
        |bits AS (
        |  SELECT a.doc_id, a.frame AS pos,
        |    CASE WHEN b.energy > a.energy THEN 1 ELSE 0 END AS bit
        |  FROM en a JOIN en b
        |    ON b.doc_id = a.doc_id AND b.frame = a.frame + 1
        |  WHERE a.frame < 64),
        |bands AS (
        |  SELECT doc_id, pos // 16 AS band_idx,
        |    CAST(sum(bit << (pos % 16)) AS BIGINT) AS band_key
        |  FROM bits GROUP BY 1, 2),
        |matches AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    row_number() OVER (PARTITION BY a.doc_id, b.doc_id
        |      ORDER BY a.band_idx) AS rn
        |  FROM bands a JOIN bands b
        |    ON b.band_idx = a.band_idx AND b.band_key = a.band_key
        |    AND a.doc_id < b.doc_id),
        |cand AS (SELECT doc_a, doc_b FROM matches WHERE rn = 1),
        |ham AS (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bits ba ON ba.doc_id = c.doc_a
        |  JOIN bits bb ON bb.doc_id = c.doc_b AND bb.pos = ba.pos
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin,

    // q141: q38's session CTE + per-session first-5 + ordered
    // string_agg + the deterministic (count DESC, path ASC) rank
    "q141_session_paths" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
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

    // q144: the same integer PMI argument — c_xy*N*1e6 // (c_x*c_y),
    // min-support 5, deterministic (score DESC, w1, w2) rank
    "q144_pmi_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(a) AS w FROM toks) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
        |bi AS (
        |  SELECT a[i + 1] AS w1, a[i + 2] AS w2
        |  FROM (SELECT a, unnest(generate_series(0, len(a) - 2)) AS i
        |        FROM toks WHERE len(a) >= 2)),
        |bc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
        |  FROM bi GROUP BY 1, 2 HAVING count(*) >= 5),
        |scored AS (
        |  SELECT bc.w1, bc.w2, bc.c_xy,
        |    CAST(bc.c_xy * t.n_total * 1000000
        |      // (u1.c * u2.c) AS BIGINT) AS score_micro
        |  FROM bc
        |  JOIN uni u1 ON u1.w = bc.w1
        |  JOIN uni u2 ON u2.w = bc.w2
        |  CROSS JOIN tot t),
        |rnk AS (
        |  SELECT CAST(row_number() OVER (
        |      ORDER BY score_micro DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank,
        |    w1, w2, c_xy, score_micro
        |  FROM scored)
        |SELECT rank, w1, w2, c_xy, score_micro FROM rnk
        |WHERE rank <= 20""".stripMargin,

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

    // q146: q136's cluster CTEs + the q60 portable-hash replay with
    // the id:epoch:seed key and the weight threshold
    "q146_weighted_sample" ->
      s"""WITH RECURSIVE $dedupClusterCtes,
         |resolved AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
         |sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM resolved GROUP BY 1),
         |weighted AS (
         |  SELECT r.doc_id, r.cluster_id,
         |    CAST(1000000 // s.cluster_size AS BIGINT) AS weight_micro
         |  FROM resolved r JOIN sizes s USING (cluster_id)),
         |drawn AS (
         |  SELECT doc_id, cluster_id, weight_micro,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(
         |        regexp_split_to_array(doc_id || ':0:42', ''),
         |        c -> CAST(ascii(c) AS BIGINT))),
         |      (acc, c) -> (acc * 31 + c) % 1000000007)
         |      % 1000000 AS u_micro
         |  FROM weighted)
         |SELECT doc_id, cluster_id, weight_micro, u_micro
         |FROM drawn WHERE u_micro < weight_micro""".stripMargin,

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

    // q148: one UNION ALL branch per column, same deterministic
    // (count DESC, value ASC) top pick
    "q148_column_profile" -> {
      val branch = (c: String) =>
        s"""SELECT '$c' AS "column",
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN CAST($c AS VARCHAR) IS NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT)
           |    AS n_distinct,
           |  (SELECT v FROM (
           |     SELECT CAST($c AS VARCHAR) AS v, count(*) AS cnt
           |     FROM documents WHERE $c IS NOT NULL GROUP BY 1
           |     ORDER BY cnt DESC, v ASC LIMIT 1)) AS top_value,
           |  (SELECT cnt FROM (
           |     SELECT CAST($c AS VARCHAR) AS v, count(*) AS cnt
           |     FROM documents WHERE $c IS NOT NULL GROUP BY 1
           |     ORDER BY cnt DESC, v ASC LIMIT 1)) AS top_count
           |FROM documents""".stripMargin
      Seq("lang", "source", "n_chars").map(branch)
        .mkString("\nUNION ALL\n")
    },

    // q149: the same argmax jump table walked by recursive CTE; the
    // max-step row per start is exactly the engine's stay-put final
    // path (dead ends stop extending, cycles reach step 10)
    "q149_greedy_decode" ->
      """WITH RECURSIVE toks AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents),
        |bi AS (
        |  SELECT a[i + 1] AS w1, a[i + 2] AS w2
        |  FROM (SELECT a, unnest(generate_series(0, len(a) - 2)) AS i
        |        FROM toks WHERE len(a) >= 2)),
        |bc AS (
        |  SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
        |jumps AS (
        |  SELECT w1 AS cur, w2 AS nw FROM (
        |    SELECT w1, w2,
        |      row_number() OVER (PARTITION BY w1
        |        ORDER BY c DESC, w2 ASC) AS r
        |    FROM bc) WHERE r = 1),
        |starts AS (
        |  SELECT DISTINCT unnest(a) AS w FROM toks),
        |walk AS (
        |  SELECT w AS start_token, w AS cur,
        |    CAST(w AS VARCHAR) AS gen_path, 0 AS step
        |  FROM starts
        |  UNION ALL
        |  SELECT wk.start_token, j.nw, wk.gen_path || '>' || j.nw,
        |    wk.step + 1
        |  FROM walk wk JOIN jumps j ON j.cur = wk.cur
        |  WHERE wk.step < 10),
        |fin AS (
        |  SELECT start_token, gen_path,
        |    row_number() OVER (PARTITION BY start_token
        |      ORDER BY step DESC) AS rn
        |  FROM walk)
        |SELECT start_token, gen_path FROM fin WHERE rn = 1""".stripMargin,

    // q150: identical keep-first dup flag, token counts, and
    // (count DESC, lang ASC) majority pick
    "q150_corpus_card" ->
      """WITH f AS (
        |  SELECT source, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_toks,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) > 1
        |      AS dup
        |  FROM documents),
        |s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_exact_dup,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM f GROUP BY 1),
        |tl AS (
        |  SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY count(*) DESC, lang ASC) AS r
        |    FROM documents GROUP BY source, lang) WHERE r = 1)
        |SELECT s.source, s.n_docs, s.n_tokens, s.n_exact_dup, s.n_langs,
        |  tl.top_lang
        |FROM s JOIN tl ON s.source = tl.source""".stripMargin,

    // q151: the q91 quality-score replay (bit-identical rounded
    // doubles) micro-latticed, then the identical tied-pair AUC
    // arithmetic — every sum BIGINT, one positive integer division
    "q151_roc_auc" ->
      s"""WITH base AS (
        |  SELECT lang, text, regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT (lang = 'en') AS y,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s
        |  FROM base),
        |g AS (
        |  SELECT s,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM sc GROUP BY 1),
        |c AS (
        |  SELECT np, nn,
        |    COALESCE(sum(nn) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
        |  FROM g),
        |t AS (
        |  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(nn) AS BIGINT) AS n_neg,
        |    CAST(sum(2 * np * cum_nn + np * nn) AS BIGINT) AS num2
        |  FROM c)
        |SELECT n_pos, n_neg,
        |  CAST(num2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT) AS auc_micro
        |FROM t""".stripMargin,

    // q152: the q23 language-ID replay joined to gold, then the same
    // sparse confusion cells + per-gold window share
    "q152_langid_confusion" ->
      s"""WITH pred AS ($LangIdPredSql)
        |, cells AS (
        |  SELECT gold, pred, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM pred GROUP BY 1, 2),
        |tot AS (
        |  SELECT gold, pred, n_docs,
        |    CAST(sum(n_docs) OVER (PARTITION BY gold) AS BIGINT) AS gold_total
        |  FROM cells)
        |SELECT gold, pred, n_docs, gold_total,
        |  CAST(n_docs * 1000000 // gold_total AS BIGINT) AS share_micro
        |FROM tot""".stripMargin,

    // q153: same micro lattice, same right-closed bin fold, exact
    // positive rates
    "q153_calibration_bins" ->
      s"""WITH base AS (
        |  SELECT lang, text, regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT (lang = 'en') AS y,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s
        |  FROM base),
        |b AS (
        |  SELECT CAST(greatest(least((s - 480000) // 10000, 9), 0) AS BIGINT) AS bin,
        |    y, s
        |  FROM sc)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000 // count(*)
        |    AS BIGINT) AS pos_rate_micro,
        |  CAST(sum(s) AS BIGINT) AS sum_score_micro
        |FROM b GROUP BY 1""".stripMargin,

    // q154: the q23 replay through the exact integer kappa identity
    // (n*agree - chance) / (n^2 - chance); positive operands on this
    // binding (agreement far above chance), so DIV == // exactly
    "q154_cohen_kappa" ->
      s"""WITH pred AS ($LangIdPredSql)
        |, cells AS (
        |  SELECT gold, pred, CAST(count(*) AS BIGINT) AS c
        |  FROM pred GROUP BY 1, 2),
        |rt AS (SELECT gold, CAST(sum(c) AS BIGINT) AS row_c
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT pred, CAST(sum(c) AS BIGINT) AS col_c
        |       FROM cells GROUP BY 1),
        |ch AS (
        |  SELECT CAST(sum(rt.row_c * ct.col_c) AS BIGINT) AS chance_pairs
        |  FROM rt JOIN ct ON rt.gold = ct.pred),
        |ag AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN gold = pred THEN c ELSE 0 END) AS BIGINT)
        |      AS n_agree
        |  FROM cells)
        |SELECT n_docs, n_agree, chance_pairs,
        |  CAST((n_docs * n_agree - chance_pairs) * 1000000
        |    // (n_docs * n_docs - chance_pairs) AS BIGINT) AS kappa_micro
        |FROM ag CROSS JOIN ch""".stripMargin,

    // q155: same per-source (s DESC, doc_id) ranks, same quarter
    // slices, same rank-mirrored join
    "q155_preference_pairs" ->
      s"""WITH base AS (
        |  SELECT doc_id, source, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, source,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s
        |  FROM base),
        |rk AS (
        |  SELECT doc_id, source, s,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY s DESC, doc_id) AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM sc),
        |ch AS (
        |  SELECT source, r AS pair_rank, doc_id AS chosen_id, s AS chosen_s
        |  FROM rk WHERE r <= n // 4),
        |rj AS (
        |  SELECT source, n + 1 - r AS pair_rank, doc_id AS rejected_id,
        |    s AS rejected_s
        |  FROM rk WHERE r > n - (n // 4))
        |SELECT ch.source, ch.pair_rank, chosen_id, rejected_id, chosen_s,
        |  rejected_s, chosen_s - rejected_s AS margin_micro
        |FROM ch JOIN rj
        |  ON ch.source = rj.source AND ch.pair_rank = rj.pair_rank""".stripMargin,

    // q156: the same global (s DESC, doc_id) rank + the same integer
    // phase identity
    "q156_curriculum_phases" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s_micro
        |  FROM base),
        |rk AS (
        |  SELECT doc_id, s_micro,
        |    CAST(row_number() OVER (ORDER BY s_micro DESC, doc_id)
        |      AS BIGINT) AS rank,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM sc)
        |SELECT doc_id, s_micro, rank,
        |  CAST((rank - 1) * 4 // n AS BIGINT) AS phase
        |FROM rk""".stripMargin,

    // q157: the same integer power iteration unrolled 5 times — same
    // edge symmetrization (UNION dedups = .distinct()), same degree
    // table, same per-contribution floors, same damping arithmetic
    "q157_textrank" -> {
      def step(k: Int): String =
        s"""pr$k AS (
           |  SELECT vv.v,
           |    CAST(150000000000 + 85 * COALESCE(s$k.cin, 0) // 100
           |      AS BIGINT) AS r
           |  FROM verts vv LEFT JOIN (
           |    SELECT e.dst AS v, CAST(sum(p.r // d.deg) AS BIGINT) AS cin
           |    FROM pr${k - 1} p
           |    JOIN e0 e ON e.src = p.v
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY 1) s$k ON s$k.v = vv.v)""".stripMargin
      s"""WITH toks AS (
         |  SELECT regexp_split_to_array(trim(text), '\\s+') AS a
         |  FROM documents),
         |bi AS (
         |  SELECT a[i + 1] AS w1, a[i + 2] AS w2
         |  FROM (SELECT a, unnest(generate_series(0, len(a) - 2)) AS i
         |        FROM toks WHERE len(a) >= 2)),
         |e0 AS (
         |  SELECT w1 AS src, w2 AS dst FROM bi WHERE w1 <> w2
         |  UNION
         |  SELECT w2 AS src, w1 AS dst FROM bi WHERE w1 <> w2),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM e0 GROUP BY 1),
         |verts AS (SELECT src AS v FROM e0 UNION SELECT dst AS v FROM e0),
         |pr0 AS (SELECT v, CAST(1000000000000 AS BIGINT) AS r FROM verts),
         |${(1 to 5).map(step).mkString(",\n")},
         |rnk AS (
         |  SELECT CAST(row_number() OVER (ORDER BY r DESC, v ASC)
         |      AS BIGINT) AS rank,
         |    v AS token, r AS score_pico
         |  FROM pr5)
         |SELECT rank, token, score_pico FROM rnk WHERE rank <= 20""".stripMargin
    },

    // q158: the identical integer recursion replayed day-by-day per
    // type (both engines' integer division truncates toward zero;
    // operands here are non-negative anyway)
    "q158_ewma" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, d, x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS i
        |  FROM daily),
        |rec AS (
        |  SELECT event_type, d, x, i, x AS s FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT n.event_type, n.d, n.x, n.i,
        |    CAST((n.x + 7 * r.s) // 8 AS BIGINT) AS s
        |  FROM rec r JOIN idx n
        |    ON n.event_type = r.event_type AND n.i = r.i + 1)
        |SELECT event_type, d, x AS x_micro, s AS ewma_micro
        |FROM rec""".stripMargin,

    // q159: same entity collapse, same first-token block, DuckDB's
    // levenshtein (the identical classic DP)
    "q159_fuzzy_linkage" ->
      """WITH names AS (
        |  SELECT p_name AS entity, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM part GROUP BY 1),
        |b AS (
        |  SELECT entity, n_rows, split_part(entity, ' ', 1) AS blk
        |  FROM names)
        |SELECT a.entity AS entity_1, c.entity AS entity_2,
        |  CAST(levenshtein(a.entity, c.entity) AS BIGINT) AS dist,
        |  a.n_rows AS rows_1, c.n_rows AS rows_2
        |FROM b a JOIN b c ON a.blk = c.blk AND a.entity < c.entity
        |WHERE levenshtein(a.entity, c.entity) <= 4""".stripMargin,

    // q160: the q60/q24 portable-hash replay (ascii fold mod 1e9+7,
    // seed-prefixed) through the identical two-round x²+1 avalanche,
    // same per-group (hash, id) rank
    "q160_group_sample" ->
      """WITH h0 AS (
        |  SELECT source, doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(
        |          regexp_split_to_array('42:' || CAST(doc_id AS VARCHAR), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM documents),
        |h1 AS (
        |  SELECT source, doc_id,
        |    (h * h + 1) % 1000000007 AS h1
        |  FROM h0),
        |h AS (
        |  SELECT source, doc_id,
        |    CAST((h1 * h1 + 1) % 1000000007 AS BIGINT) AS hash
        |  FROM h1),
        |r AS (
        |  SELECT source, doc_id, hash,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY hash, doc_id) AS BIGINT) AS smp_rank
        |  FROM h)
        |SELECT source, doc_id, hash, smp_rank FROM r
        |WHERE smp_rank <= 5""".stripMargin,

    // q161: identical two-level counts; example token = min per cell
    "q161_zipf_spectrum" ->
      """WITH uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1)
        |SELECT c AS occurrences, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(c * count(*) AS BIGINT) AS n_tokens,
        |  min(w) AS example_token
        |FROM uni GROUP BY 1""".stripMargin,

    // q162: DuckDB's nfc_normalize implements the same Unicode
    // canonical composition; lengths are codepoints on both engines
    "q162_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    replace(text, 'e', 'e' || chr(769)) AS decomposed,
        |    replace(text, 'e', chr(233)) AS precomposed
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(decomposed) AS BIGINT) AS n_decomposed,
        |  CAST(length(nfc_normalize(decomposed)) AS BIGINT) AS n_nfc,
        |  nfc_normalize(decomposed) = precomposed AS nfc_matches_precomposed
        |FROM d""".stripMargin,

    // q163: same (c DESC, w) rank, same running sum, same integer
    // share
    "q163_vocab_coverage" ->
      """WITH uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM uni),
        |r AS (
        |  SELECT w AS token, c,
        |    CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rank,
        |    CAST(sum(c) OVER (ORDER BY c DESC, w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM uni)
        |SELECT rank, token, c, cum,
        |  CAST(cum * 1000000 // t.total AS BIGINT) AS cum_share_micro
        |FROM r CROSS JOIN tot t""".stripMargin,

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

    // q166: decode derived from q85's per-word encode replay — strip
    // the piece/word separators, turn EndOfWord markers into spaces,
    // and the roundtrip must land on the normalized original text
    "q166_bpe_decode" ->
      s"""SELECT t.doc_id, t.n_pieces, CAST(0 AS BIGINT) AS n_unk,
         |  trim(replace(replace(t.encoded, ' ', ''), '</w>', ' '))
         |    AS decoded,
         |  trim(replace(replace(t.encoded, ' ', ''), '</w>', ' ')) =
         |    regexp_replace(trim(d.text), '\\s+', ' ', 'g') AS roundtrip_ok
         |FROM (
         |$q85OracleSql
         |) t JOIN documents d USING (doc_id)""".stripMargin,

    // q167: q19's exact shingle-set self-join with the integer
    // containment scores instead of Jaccard
    "q167_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
        |           FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT p.doc_a, p.doc_b, ca.n_sh AS n_a, cb.n_sh AS n_b,
        |    p.n_common,
        |    CAST(p.n_common * 1000000 // ca.n_sh AS BIGINT)
        |      AS contain_a_micro,
        |    CAST(p.n_common * 1000000 // cb.n_sh AS BIGINT)
        |      AS contain_b_micro
        |  FROM pairs p
        |  JOIN counts ca ON p.doc_a = ca.doc_id
        |  JOIN counts cb ON p.doc_b = cb.doc_id)
        |SELECT doc_a, doc_b, n_a, n_b, n_common, contain_a_micro,
        |  contain_b_micro
        |FROM scored
        |WHERE greatest(contain_a_micro, contain_b_micro) >= 500000""".stripMargin,

    // q168: identical md5-keyed opening spans (1-based inclusive
    // clamping slice on both engines — the q126 convention)
    "q168_cross_source_dups" ->
      """WITH hs AS (
        |  SELECT DISTINCT md5(array_to_string(
        |    regexp_split_to_array(trim(text), '\s+')[1:8], ' ')) AS h,
        |    source
        |  FROM documents)
        |SELECT a.source AS source_1, b.source AS source_2,
        |  CAST(count(*) AS BIGINT) AS n_shared_openings
        |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // q171: the q27 IVF-ANN chain over ALL vectors -> 5-NN edges,
    // then two unrolled majority-vote rounds with seed pinning
    "q171_label_propagation" -> {
      def round(k: Int): String =
        s"""v$k AS (
           |  SELECT ed.v, l.lbl AS u_lbl, CAST(count(*) AS BIGINT) AS votes
           |  FROM edges ed JOIN l${k - 1} l ON ed.u = l.v
           |  WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
           |p$k AS (
           |  SELECT v, u_lbl AS prop FROM (
           |    SELECT v, u_lbl, row_number() OVER (PARTITION BY v
           |      ORDER BY votes DESC, u_lbl ASC) AS r
           |    FROM v$k) WHERE r = 1),
           |l$k AS (
           |  SELECT a.v,
           |    CASE WHEN a.is_seed THEN a.lbl
           |         ELSE coalesce(p.prop, a.lbl) END AS lbl,
           |    a.is_seed
           |  FROM l${k - 1} a LEFT JOIN p$k p ON a.v = p.v)""".stripMargin
      s"""WITH ${ivfAnnCtesFor("1 = 1")},
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl
         |        FROM embeddings),
         |edges AS (SELECT query_id AS v, vec_id AS u FROM ranked
         |          WHERE rnk <= 5),
         |seeds AS (SELECT vec_id AS v, lbl AS seed_lbl FROM lab
         |          WHERE vec_id % 4 <> 0),
         |l0 AS (
         |  SELECT d.v, s.seed_lbl AS lbl, s.seed_lbl IS NOT NULL AS is_seed
         |  FROM (SELECT v FROM edges UNION SELECT u FROM edges) d
         |  LEFT JOIN seeds s ON d.v = s.v),
         |${(1 to 2).map(round).mkString(",\n")}
         |SELECT l2.v AS vec_id, l2.lbl AS label_prop, l2.is_seed,
         |  g.lbl AS gold, l2.lbl = g.lbl AS correct
         |FROM l2 JOIN lab g ON l2.v = g.vec_id""".stripMargin
    },

    // q169: q25's exact cosine chain on the fixed panel, then the
    // same vote/majority/accuracy arithmetic
    "q169_knn_label_eval" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS lbl,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [q.v[i+1] * c.v[i+1] for i in generate_series(0, len(q.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [q.v[i+1] * q.v[i+1] for i in generate_series(0, len(q.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [c.v[i+1] * c.v[i+1] for i in generate_series(0, len(c.v)-1)]),
        |         (acc, x) -> acc + x))) AS cos
        |  FROM e q, e c
        |  WHERE q.vec_id < 200 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM scored),
        |votes AS (
        |  SELECT r.query_id, e2.lbl AS n_label,
        |    CAST(count(*) AS BIGINT) AS votes
        |  FROM ranked r JOIN e e2 ON r.neighbor_id = e2.vec_id
        |  WHERE r.rank <= 5 GROUP BY 1, 2),
        |pred AS (
        |  SELECT query_id, n_label AS pred FROM (
        |    SELECT query_id, n_label,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY votes DESC, n_label ASC) AS rr
        |    FROM votes) WHERE rr = 1)
        |SELECT eq.lbl AS label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN p.pred = eq.lbl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  CAST(sum(CASE WHEN p.pred = eq.lbl THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS acc_micro
        |FROM pred p JOIN e eq ON p.query_id = eq.vec_id
        |GROUP BY 1""".stripMargin,

    // q170: q20's shingle-hash + affine minhash chain grouped by
    // SOURCE, then component-match counting per source pair
    "q170_source_minhash" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT source, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |hashed AS (
        |  SELECT source,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array(shingle, ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM sh),
        |sig AS (
        |  SELECT source,
        |    min((h*1299721 + 15485863) % 1000000007) AS mh_0,
        |    min((h*1299743 + 15485867) % 1000000007) AS mh_1,
        |    min((h*1299763 + 15485917) % 1000000007) AS mh_2,
        |    min((h*1299791 + 15485927) % 1000000007) AS mh_3,
        |    min((h*1299811 + 15485933) % 1000000007) AS mh_4,
        |    min((h*1299817 + 15485941) % 1000000007) AS mh_5,
        |    min((h*1299821 + 15485959) % 1000000007) AS mh_6,
        |    min((h*1299827 + 15485989) % 1000000007) AS mh_7
        |  FROM hashed GROUP BY 1)
        |SELECT a.source AS source_1, b.source AS source_2,
        |  CAST((CASE WHEN a.mh_0 = b.mh_0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_1 = b.mh_1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_2 = b.mh_2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_3 = b.mh_3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_4 = b.mh_4 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_5 = b.mh_5 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_6 = b.mh_6 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_7 = b.mh_7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_match,
        |  CAST(((CASE WHEN a.mh_0 = b.mh_0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_1 = b.mh_1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_2 = b.mh_2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_3 = b.mh_3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_4 = b.mh_4 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_5 = b.mh_5 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_6 = b.mh_6 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a.mh_7 = b.mh_7 THEN 1 ELSE 0 END)) * 1000000
        |    // 8 AS BIGINT) AS est_jaccard_micro
        |FROM sig a JOIN sig b ON a.source < b.source""".stripMargin,

    // q117: the maintained rollup must equal the one-shot aggregate
    // over raw events — per-row floor(value*1e6) BIGINTs, order-free.
    // q119 shares it: the exactly-once build with a REPLAYED batch
    // must also land on the one-shot aggregate (a leaked replay
    // doubles half the days — the oracle catches it as a hash miss)
    "q117_rollup_incremental" -> RollupOracleSql,
    "q119_rollup_exactly_once" -> RollupOracleSql,
    // q125: the MV-rewritten aggregate must land on the one-shot
    // aggregate over raw events — same bar as the view maintenance
    // itself (and the gate requires the rewrite to actually fire)
    "q125_rollup_rewrite" -> RollupOracleSql,

    // q126: windows replayed with generate_series + list slicing;
    // DuckDB list slices are 1-based inclusive and clamp like slice()
    "q126_chunk_windows" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |starts AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0, greatest(len(t) - 1, 0), 48)) AS s
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(s // 48 AS BIGINT) AS chunk_idx,
        |  CAST(s AS BIGINT) AS chunk_start,
        |  CAST(len(t[s + 1 : s + 64]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
        |FROM starts""".stripMargin,

    // q127: every mask replayed — same rolling hash of 'id:pos', same
    // union coverage, same run sentinels; nested windows split so the
    // cumulative run id consumes a materialized run-start flag
    "q127_span_corrupt" ->
      """WITH toks AS (
        |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
        |    unnest(t) AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM documents)),
        |h AS (
        |  SELECT doc_id, pos, tok,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM toks),
        |cov AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(generate_series(pos, pos + 2 + (hv // 1000) % 3 - 1))
        |      AS pos
        |  FROM h WHERE hv % 1000 < 50),
        |flagged AS (
        |  SELECT t.doc_id, t.pos, t.tok, (c.pos IS NOT NULL) AS m
        |  FROM toks t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.pos = c.pos),
        |rs AS (
        |  SELECT doc_id, pos, tok, m,
        |    m AND NOT coalesce(lag(m) OVER (PARTITION BY doc_id
        |      ORDER BY pos), FALSE) AS run_start
        |  FROM flagged),
        |runs AS (
        |  SELECT doc_id, pos, tok, m, run_start,
        |    CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS rid
        |  FROM rs),
        |pieces AS (
        |  SELECT doc_id, pos, m, rid,
        |    CASE WHEN NOT m THEN tok
        |         WHEN run_start THEN '<X' || CAST(rid - 1 AS VARCHAR) || '>'
        |    END AS piece
        |  FROM runs)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(max(rid) AS BIGINT) AS n_spans,
        |  coalesce(string_agg(piece, ' ' ORDER BY pos)
        |    FILTER (WHERE piece IS NOT NULL), '') AS corrupted_text
        |FROM pieces GROUP BY doc_id""".stripMargin,

    // q118: the native session_window gap semantics — touching
    // windows MERGE, a split needs diff STRICTLY > gap (measured,
    // pinned in TimeSeriesSpec) — which is exactly q38's lag/cumsum
    // CTE, extended here with duration
    "q118_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
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

    // q120: refit the fixed-point component sums (floor(v*1e6) BIGINT,
    // order-free) from the data, fold the 64-long sum vectors in dim
    // order with the same left associativity (the q112 list_reduce
    // idiom), one division + sqrt pair + floor — identical
    // parenthesization to Profile.centroidDrift, zero accepted ulp
    "q120_centroid_drift" ->
      """WITH e AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (
        |  SELECT label, CAST(i.range AS BIGINT) AS d,
        |    CAST(floor(v[i.range + 1] * 1000000.0) AS BIGINT) AS qv
        |  FROM e CROSS JOIN range(64) i),
        |gs AS (SELECT label, d, CAST(sum(qv) AS BIGINT) AS s
        |  FROM q GROUP BY 1, 2),
        |pop AS (SELECT d, CAST(sum(s) AS BIGINT) AS p FROM gs GROUP BY 1),
        |arrs AS (
        |  SELECT label,
        |    list(CAST(s AS DOUBLE) ORDER BY d) AS sa,
        |    list(CAST(p AS DOUBLE) ORDER BY d) AS pa
        |  FROM gs JOIN pop USING (d) GROUP BY label),
        |dots AS (
        |  SELECT label,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [sa[i+1] * pa[i+1] for i in generate_series(0, len(sa)-1)]),
        |      (acc, x) -> acc + x) AS dot,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [sa[i+1] * sa[i+1] for i in generate_series(0, len(sa)-1)]),
        |      (acc, x) -> acc + x)) AS ns,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [pa[i+1] * pa[i+1] for i in generate_series(0, len(pa)-1)]),
        |      (acc, x) -> acc + x)) AS np
        |  FROM arrs),
        |n AS (SELECT label, count(*) AS n_rows FROM embeddings GROUP BY 1)
        |SELECT CAST(dots.label AS BIGINT) AS label, n.n_rows,
        |  greatest(CAST(0 AS BIGINT),
        |    CAST(floor(1000000.0 * (1.0 - dot / (ns * np))) AS BIGINT))
        |    AS drift_micro
        |FROM dots JOIN n ON dots.label = n.label""".stripMargin,

    // q121: per-bucket longest-first rank replayed as a window (the
    // scalable two-phase rank must agree with the window formulation
    // under the same total order), then exact-integer batch padding
    "q121_length_batching" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, n_tokens, n_tokens // 64 AS bucket,
        |    row_number() OVER (PARTITION BY (n_tokens // 64)
        |      ORDER BY n_tokens DESC, doc_id ASC) - 1 AS rk
        |  FROM c)
        |SELECT bucket, rk // 32 AS batch,
        |  count(*) AS n_docs,
        |  max(n_tokens) AS max_len,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_len,
        |  max(n_tokens) * count(*) - CAST(sum(n_tokens) AS BIGINT)
        |    AS pad_waste
        |FROM ranked GROUP BY 1, 2""".stripMargin,

    // q122: a bloom-pruned point lookup may only SKIP files — the
    // relational answer is the plain filter
    "q122_bloom_point_lookup" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id IN (11, 137, 263, 389)""".stripMargin,

    // q123: per-signal global ranks replayed as row_number windows
    // (the scalable two-phase rank must agree under the same total
    // order), exact integer signals, blend = rank sum
    "q123_rank_ensemble" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS s_len,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], x))) AS BIGINT)
        |      * 1000000 // CAST(len(t) AS BIGINT) AS s_stop_micro,
        |    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
        |      * 1000000 // greatest(CAST(len(text) AS BIGINT), 1)
        |      AS s_alpha_micro
        |  FROM c),
        |ranks AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY s_len DESC, doc_id)
        |      AS BIGINT) AS rank_s_len,
        |    CAST(row_number() OVER (ORDER BY s_stop_micro DESC, doc_id)
        |      AS BIGINT) AS rank_s_stop_micro,
        |    CAST(row_number() OVER (ORDER BY s_alpha_micro DESC, doc_id)
        |      AS BIGINT) AS rank_s_alpha_micro
        |  FROM sig)
        |SELECT doc_id, rank_s_len, rank_s_stop_micro, rank_s_alpha_micro,
        |  rank_s_len + rank_s_stop_micro + rank_s_alpha_micro
        |    AS blend_rank
        |FROM ranks""".stripMargin,

    // q124: WordPiece greedy longest-match replayed relationally —
    // the longest matching piece per (word, pos) is a plain argmax
    // over the bounded candidate grid, and the greedy walk is a
    // recursive CTE over those PRE-RESOLVED jumps (no per-step
    // argmax). A word whose walk strands short of its length is
    // [UNK]. Vocab literals interpolate from Wordpiece.FixedVocab —
    // one source of truth
    "q124_wordpiece_encode" -> {
      val vocabList = graft.core.Wordpiece.FixedVocab
        .map(v => s"'$v'").mkString(",")
      val mp = graft.core.Wordpiece.MaxPiece
      s"""WITH RECURSIVE
        |words AS (
        |  SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        |  FROM documents),
        |cands AS (
        |  SELECT w, CAST(i // $mp AS INT) AS pos,
        |    CAST(i % $mp + 1 AS INT) AS l
        |  FROM (SELECT w, unnest(generate_series(0, len(w) * $mp - 1)) AS i
        |        FROM words)
        |  WHERE (i // $mp) + (i % $mp + 1) <= len(w)),
        |matched AS (
        |  SELECT w, pos, l,
        |    CASE WHEN pos = 0 THEN substr(w, 1, l)
        |         ELSE '##' || substr(w, pos + 1, l) END AS piece
        |  FROM cands
        |  WHERE (CASE WHEN pos = 0 THEN substr(w, 1, l)
        |         ELSE '##' || substr(w, pos + 1, l) END)
        |    IN (SELECT unnest([$vocabList]))),
        |jumps AS (
        |  SELECT w, pos, piece, l FROM (
        |    SELECT w, pos, piece, l,
        |      row_number() OVER (PARTITION BY w, pos ORDER BY l DESC) AS rn
        |    FROM matched) WHERE rn = 1),
        |walk AS (
        |  SELECT w, 0 AS pos, CAST(NULL AS VARCHAR) AS piece, 0 AS ord
        |  FROM words
        |  UNION ALL
        |  SELECT wk.w, wk.pos + j.l, j.piece, wk.ord + 1
        |  FROM walk wk JOIN jumps j ON wk.w = j.w AND wk.pos = j.pos
        |  WHERE wk.pos < len(wk.w)),
        |reach AS (SELECT w, max(pos) AS reach FROM walk GROUP BY w),
        |plist AS (
        |  SELECT w, list(piece ORDER BY ord) AS ps
        |  FROM walk WHERE piece IS NOT NULL GROUP BY w),
        |enc AS (
        |  SELECT r.w,
        |    CASE WHEN r.reach = len(r.w)
        |         THEN coalesce(p.ps, CAST([] AS VARCHAR[]))
        |         ELSE ['[UNK]'] END AS pieces
        |  FROM reach r LEFT JOIN plist p ON r.w = p.w),
        |toks AS (
        |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS widx,
        |    unnest(t) AS w
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        |        FROM documents))
        |SELECT tk.doc_id, count(*) AS n_words,
        |  CAST(sum(len(e.pieces)) AS BIGINT) AS n_pieces,
        |  CAST(sum(CASE WHEN e.pieces = ['[UNK]'] THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unk,
        |  string_agg(array_to_string(e.pieces, ' '), ' ' ORDER BY tk.widx)
        |    AS text_pieces
        |FROM toks tk JOIN enc e ON tk.w = e.w
        |GROUP BY tk.doc_id""".stripMargin
    },

    "q42_asof_join" -> AsofOracleSql,
    "q48_asof_native" -> AsofOracleSql,

    "q41_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, tf.term ASC) AS rnk
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf,
        |  round(score, 6) AS score
        |FROM scored WHERE rnk <= 3""".stripMargin,

    "q39_cosine_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [a.v[i+1] * b.v[i+1] for i in generate_series(0, len(a.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [a.v[i+1] * a.v[i+1] for i in generate_series(0, len(a.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [b.v[i+1] * b.v[i+1] for i in generate_series(0, len(b.v)-1)]),
        |         (acc, x) -> acc + x))), 6) AS cosine
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [a.v[i+1] * b.v[i+1] for i in generate_series(0, len(a.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [a.v[i+1] * a.v[i+1] for i in generate_series(0, len(a.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [b.v[i+1] * b.v[i+1] for i in generate_series(0, len(b.v)-1)]),
        |         (acc, x) -> acc + x))) >= 0.4""".stripMargin,

    // q40: q50's literal-plane candidate CTEs extended through the
    // cosine-verify filter at the fixed 0.4 threshold
    "q40_lsh_neardup" -> q40OracleSql,

    // q84: the gradient-PNG generator arithmetic replayed relationally
    // — pixel(x,y) = (id*31 + 7x + 13y) % 256 over w=4+id%5, h=3+id%4,
    // k=4 vertical strips, feature = sum(r+g+b)/(3*255*n). The engine
    // side must get the identical values THROUGH a real PNG
    // encode->decode roundtrip (javax.imageio).
    "q84_image_features" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, i.range AS dim,
        |    (i.range * w) // 4 AS x0, ((i.range + 1) * w) // 4 AS x1
        |  FROM ids, range(4) i),
        |px AS (
        |  SELECT c.doc_id, c.dim,
        |    sum(3 * ((c.doc_id * 31 + 7 * x.range + 13 * y.range) % 256)) AS s,
        |    count(*) AS n
        |  FROM cells c, range(8) x, range(6) y
        |  WHERE x.range >= c.x0 AND x.range < c.x1 AND y.range < c.h
        |  GROUP BY 1, 2)
        |SELECT doc_id, dim, round(s / (3.0 * 255.0 * n), 6) AS feature
        |FROM px""".stripMargin,

    // q85: recursive-CTE replay of greedy rank-merge BPE encode over
    // the fixed model's literal merge table (see q85OracleSql doc)
    "q85_bpe_encode_fixed" -> q85OracleSql,

    // q86: the tone-WAV generator arithmetic replayed relationally —
    // sample(t) = (id*31 + t*17) % 4093 - 2046 over n = 400 + id%100,
    // k=4 windows, feature = sum(|s|)/(32768*n). The engine side must
    // get identical values THROUGH a real WAV encode->decode roundtrip
    // (javax.sound.sampled).
    "q86_audio_features" ->
      """WITH ids AS (
        |  SELECT doc_id, 400 + doc_id % 100 AS n FROM documents),
        |cells AS (
        |  SELECT doc_id, n, i.range AS dim,
        |    (i.range * n) // 4 AS t0, ((i.range + 1) * n) // 4 AS t1
        |  FROM ids, range(4) i),
        |px AS (
        |  SELECT c.doc_id, c.dim,
        |    sum(abs((c.doc_id * 31 + t.range * 17) % 4093 - 2046)) AS s,
        |    count(*) AS cnt
        |  FROM cells c, range(500) t
        |  WHERE t.range >= c.t0 AND t.range < c.t1
        |  GROUP BY 1, 2)
        |SELECT doc_id, dim, round(s / (32768.0 * cnt), 6) AS feature
        |FROM px""".stripMargin,

    // q87: q27's assign/probe CTEs + q57's LUT/ADC CTEs, composed —
    // ADC ranks only the probed candidates
    "q87_ivfpq_ann" -> q87OracleSql,

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

    // q88: closed-form Prophet yhat over the literal fitted params —
    // generated from the SAME model object as the engine expression,
    // term-for-term (see ProphetScorer.yhatSqlExpr)
    "q88_prophet_yhat" -> q88OracleSql,

    // q89: the fixed isolation forest regenerated relationally and
    // walked by a recursive CTE (see IsoForestScorer.fixedOracleSql)
    "q89_isoforest_fixed" -> graft.ml.IsoForestScorer.fixedOracleSql(),

    // q90: the gradient-GIF generator arithmetic replayed relationally
    // — pixel(x,y,f) = (id*31 + 7x + 13y + 19f) % 256 over
    // w=4+id%5, h=3+id%4, nf=2+id%4 frames, sampled every 2nd frame,
    // k=4 vertical strips. The engine must reproduce identical values
    // THROUGH a real animated-GIF encode->decode roundtrip.
    "q90_video_frames" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
        |    2 + doc_id % 4 AS nf
        |  FROM documents),
        |frames AS (
        |  SELECT doc_id, w, h, f.range AS frame_idx
        |  FROM ids, range(5) f
        |  WHERE f.range < nf AND f.range % 2 = 0),
        |cells AS (
        |  SELECT doc_id, w, h, frame_idx, i.range AS dim,
        |    (i.range * w) // 4 AS x0, ((i.range + 1) * w) // 4 AS x1
        |  FROM frames, range(4) i),
        |px AS (
        |  SELECT c.doc_id, c.frame_idx, c.dim,
        |    sum(3 * ((c.doc_id * 31 + 7 * x.range + 13 * y.range
        |              + 19 * c.frame_idx) % 256)) AS s,
        |    count(*) AS n
        |  FROM cells c, range(8) x, range(6) y
        |  WHERE x.range >= c.x0 AND x.range < c.x1 AND y.range < c.h
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, frame_idx, dim, round(s / (3.0 * 255.0 * n), 6) AS feature
        |FROM px""".stripMargin,

    // q92: q85's per-doc encode replay (the same recursive CTE, as a
    // derived table) aggregated per source; BIGINT sums exact, ratios
    // divided once at the end
    "q92_tokenizer_fertility" -> q92OracleSql,

    // q93: the concatenated packing replayed relationally — one
    // running-sum window for offsets, position/L bucketing, trailing
    // partial dropped (it is the stream's TAIL, not an emitted
    // sequence)
    "q93_stream_pack" ->
      """WITH ids AS (
        |  SELECT doc_id, doc_id % 5 + 3 AS n FROM documents),
        |offs AS (
        |  SELECT doc_id, n,
        |    sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
        |      AS tok_start
        |  FROM ids),
        |toks AS (
        |  SELECT doc_id, tok_start + j.range AS pos,
        |    doc_id * 10 + j.range AS token_id
        |  FROM offs, range(7) j WHERE j.range < n),
        |tot AS (SELECT sum(n) AS nt FROM ids)
        |SELECT CAST(pos // 64 AS BIGINT) AS seq_id,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY pos) AS ids_str
        |FROM toks, tot
        |WHERE pos < (nt // 64) * 64
        |GROUP BY 1""".stripMargin,

    // q91: q22's quality-score arithmetic (identical ratio/mul/add
    // order) ranked per source, keep rank <= ceil(n/4) — rounding
    // before the rank makes the sort keys bit-identical across
    // engines, so the kept SET is exact, not approximate
    "q91_quality_quantile_gate" ->
      """WITH base AS (
        |  SELECT doc_id, source, text,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, source,
        |    round(CAST(len(list_filter(t, x -> list_contains(
        |        ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
        |        / len(t) * 0.4
        |      + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / length(text) * 0.6
        |      - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |        / length(text) * 0.5, 6) AS quality_score
        |  FROM base),
        |ranked AS (
        |  SELECT doc_id, source, quality_score,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY quality_score DESC, doc_id) AS grp_rank,
        |    count(*) OVER (PARTITION BY source) AS grp_n
        |  FROM scored)
        |SELECT doc_id, source, quality_score, CAST(grp_rank AS BIGINT) AS grp_rank
        |FROM ranked
        |WHERE grp_rank <= ceil(grp_n * 0.25)""".stripMargin,

    "q38_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
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

    "q37_chunk_features" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    greatest(length(text) // 4, 1) AS cl
        |  FROM documents)
        |SELECT doc_id, CAST(i.range AS BIGINT) AS dim,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        regexp_split_to_array(substr(text, i.range * cl + 1, cl), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS feature
        |FROM base, range(4) i""".stripMargin,

    "q49_ivf_assign" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 97 = 3),
        |scored AS (
        |  SELECT e.vec_id, c.centroid_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [e.v[i+1] * c.cv[i+1] for i in generate_series(0, len(e.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [e.v[i+1] * e.v[i+1] for i in generate_series(0, len(e.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [c.cv[i+1] * c.cv[i+1] for i in generate_series(0, len(c.cv)-1)]),
        |         (acc, x) -> acc + x))) AS cos
        |  FROM e, c),
        |ranked AS (
        |  SELECT vec_id, centroid_id,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, centroid_id ASC) AS rnk
        |  FROM scored)
        |SELECT vec_id, centroid_id AS bucket FROM ranked WHERE rnk = 1""".stripMargin,

    "q50_lsh_candidates" -> q50OracleSql,

    "q51_curation" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |ratios AS (
        |  SELECT doc_id, text, t,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
        |      / len(t) AS sw,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / length(text) AS alpha
        |  FROM base),
        |lang AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(t, x -> list_contains(['the','and','of','is'], x)))
        |      + (length(text) - length(replace(text, 'th', ''))) / 2
        |      + (length(text) - length(replace(text, 'ing', ''))) / 3
        |      + (length(text) - length(replace(text, 'he ', ''))) / 3 AS BIGINT) AS score_en,
        |    CAST(len(list_filter(t, x -> list_contains(['el','la','de','que'], x)))
        |      + (length(text) - length(replace(text, 'ión', ''))) / 3
        |      + (length(text) - length(replace(text, 'os ', ''))) / 3
        |      + (length(text) - length(replace(text, 'que', ''))) / 3 AS BIGINT) AS score_es,
        |    CAST(len(list_filter(t, x -> list_contains(['der','die','und','ist'], x)))
        |      + (length(text) - length(replace(text, 'sch', ''))) / 3
        |      + (length(text) - length(replace(text, 'ein', ''))) / 3
        |      + (length(text) - length(replace(text, 'und', ''))) / 3 AS BIGINT) AS score_de,
        |    CAST(len(list_filter(t, x -> list_contains(['le','la','et','est'], x)))
        |      + (length(text) - length(replace(text, 'eau', ''))) / 3
        |      + (length(text) - length(replace(text, 'oux', ''))) / 3
        |      + (length(text) - length(replace(text, 'ent', ''))) / 3 AS BIGINT) AS score_fr
        |  FROM base),
        |qual AS (
        |  SELECT doc_id, text, t,
        |    round(sw * 0.4 + alpha * 0.6 - punct * 0.5, 6) AS quality_score
        |  FROM ratios),
        |gated AS (
        |  SELECT doc_id, text, t, quality_score,
        |    quality_score >= 0.51 AS quality_ok
        |  FROM qual),
        |keptx AS (
        |  SELECT doc_id, text, t,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM gated WHERE quality_ok),
        |kept AS (SELECT doc_id, text, t FROM keptx WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM kept),
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT p.doc_a, p.doc_b
        |  FROM cand p
        |  JOIN counts ca ON p.doc_a = ca.doc_id
        |  JOIN counts cb ON p.doc_b = cb.doc_id
        |  WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |cc AS (
        |  SELECT src AS doc, src AS lbl FROM edges
        |  UNION
        |  SELECT e.dst AS doc, cc.lbl FROM cc JOIN edges e ON cc.doc = e.src),
        |labels AS (SELECT doc, min(lbl) AS cluster_id FROM cc GROUP BY 1),
        |resolved AS (
        |  SELECT k.doc_id, coalesce(l.cluster_id, k.doc_id) AS survivor_id
        |  FROM kept k LEFT JOIN labels l ON k.doc_id = l.doc)
        |SELECT g.doc_id,
        |  CASE
        |    WHEN lg.score_fr > greatest(lg.score_de, lg.score_en, lg.score_es) THEN 'fr'
        |    WHEN lg.score_es > greatest(lg.score_de, lg.score_en) THEN 'es'
        |    WHEN lg.score_en > lg.score_de THEN 'en'
        |    ELSE 'de' END AS lang_pred,
        |  g.quality_score, g.quality_ok,
        |  (r.doc_id IS NOT NULL) AS kept_exact,
        |  r.survivor_id,
        |  coalesce(r.survivor_id = g.doc_id, FALSE) AS is_survivor
        |FROM gated g
        |JOIN lang lg ON g.doc_id = lg.doc_id
        |LEFT JOIN resolved r ON g.doc_id = r.doc_id""".stripMargin,

    "q52_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+5], ' ')
        |     for i in generate_series(0, greatest(len(t)-5, 0))])) AS shingle
        |  FROM toks),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
        |hits AS (
        |  SELECT s.doc_id, count(*) AS n_hits
        |  FROM sh s JOIN ev USING (shingle)
        |  WHERE s.doc_id % 10 <> 0 GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  coalesce(h.n_hits, 0) >= 1 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 10 <> 0""".stripMargin,

    "q53_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |    round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
        |      AS dup_token_ratio,
        |    unnest([array_to_string(t[i+1:i+2], ' ')
        |      for i in generate_series(0, greatest(len(t)-2, 0))]) AS gram
        |  FROM toks),
        |gc AS (
        |  SELECT doc_id, n_tokens, dup_token_ratio, gram, count(*) AS c
        |  FROM base GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, n_tokens, dup_token_ratio,
        |  CAST(max(c) AS BIGINT) AS top_ngram_count,
        |  round(least(1.0, CAST(max(c) * 2 AS DOUBLE) / n_tokens), 6)
        |    AS top_ngram_ratio
        |FROM gc GROUP BY 1, 2, 3""".stripMargin,

    "q54_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |       THEN ' contact u' || doc_id || '@mail.example.com' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0
        |       THEN ' call ' || (doc_id % 700 + 200) || '-'
        |         || (doc_id % 800 + 100) || '-' || (doc_id % 9000 + 1000)
        |       ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |       THEN ' acct ' || (doc_id + 100000000) ELSE '' END AS aug_text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(aug_text,
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(aug_text, '[0-9]{9,}')) AS BIGINT) AS n_ids,
        |  regexp_replace(regexp_replace(regexp_replace(aug_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{9,}', '<ID>', 'g') AS scrubbed
        |FROM aug""".stripMargin,

    "q55_source_quota" ->
      """SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS src_rank,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 15
        |    AS quota_kept
        |FROM documents""".stripMargin,

    "q56_pq_encode" -> pqEncodeOracleSql,

    "q57_pq_adc" -> pqAdcOracleSql,

    "q58_range_join" ->
      """WITH anchors AS (
        |  SELECT event_id AS anchor_id, user_id, ts AS a_ts,
        |    ts + INTERVAL 2 HOUR AS a_end
        |  FROM events WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, a.anchor_id, e.event_type,
        |  (epoch_us(e.ts) // 1000000 - epoch_us(a.a_ts) // 1000000) // 60
        |    AS minutes_after
        |FROM events e JOIN anchors a
        |  ON e.user_id = a.user_id AND e.ts >= a.a_ts AND e.ts < a.a_end""".stripMargin,

    "q59_strip_markup" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    '<html><body data-id="' || doc_id
        |    || '"><h1>T&amp;C</h1><script type="text/js">var x = 1;</script><p>'
        |    || text || '</p>'
        |    || CASE WHEN doc_id % 2 = 0
        |       THEN '<style>p { color: red }</style>&lt;EOF&gt;' ELSE '' END
        |    || '</body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(
        |        regexp_replace(html,
        |          '<script[^>]*>[^<]*</script>|<style[^>]*>[^<]*</style>', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'), '&#39;', '''', 'g'), '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text
        |FROM aug""".stripMargin,

    "q60_hash_split" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(doc_id || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN hv % 1000000 < 800000 THEN 'train'
        |       WHEN hv % 1000000 < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h""".stripMargin,

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

    "q63_profile" -> Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  round(CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / greatest(count(*), 1), 6) AS null_frac,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_repr,
         |  CAST(max($c) AS VARCHAR) AS max_repr
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n"),

    "q64_snapshot_scan" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q65_snapshot_merge" ->
      """WITH tgt AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderdate < DATE '1996-01-01'),
        |src AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS new_price FROM tgt
        |  WHERE o_orderkey % 97 = 0),
        |merged AS (
        |  SELECT t.o_orderkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
        |         ELSE t.o_totalprice END AS price
        |  FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        |  WHERE s.o_orderkey IS NULL OR t.o_orderkey % 485 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, new_price FROM src)
        |SELECT count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys,
        |  round(sum(price), 2) AS total_price
        |FROM merged""".stripMargin,

    "q66_chunk_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    [array_to_string(list_slice(words, i*12 + 1, i*12 + 12), ' ')
        |     for i in generate_series(0, (len(words) - 1) // 12)]
        |      AS chunks
        |  FROM w),
        |c AS (
        |  SELECT doc_id, unnest(chunks) AS chunk,
        |    generate_subscripts(chunks, 1) - 1 AS pos
        |  FROM l),
        |f AS (
        |  SELECT doc_id, chunk, pos,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM c)
        |SELECT doc_id, count(*) AS n_kept,
        |  string_agg(chunk, ' ' ORDER BY pos) AS text_dedup
        |FROM f WHERE rn = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q67: assignment reproduces the engine's literal-centroid argmax
    // (same sequential-fold cosine, ties to the smaller bucket);
    // duplicate groups via the same recursive-CTE components as q43.
    "q67_semdedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (
        |  SELECT vec_id AS centroid_id, v AS cv,
        |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS bucket
        |  FROM e WHERE vec_id % 97 = 3),
        |scored AS (
        |  SELECT e.vec_id, c.bucket,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [e.v[i+1] * c.cv[i+1] for i in generate_series(0, len(e.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [e.v[i+1] * e.v[i+1] for i in generate_series(0, len(e.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [c.cv[i+1] * c.cv[i+1] for i in generate_series(0, len(c.cv)-1)]),
        |         (acc, x) -> acc + x))) AS cos
        |  FROM e, c),
        |assigned AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY cos DESC, bucket ASC) AS rnk
        |    FROM scored) WHERE rnk = 1),
        |pairs AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM assigned a
        |  JOIN assigned b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [ea.v[i+1] * eb.v[i+1] for i in generate_series(0, len(ea.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [ea.v[i+1] * ea.v[i+1] for i in generate_series(0, len(ea.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [eb.v[i+1] * eb.v[i+1] for i in generate_series(0, len(eb.v)-1)]),
        |         (acc, x) -> acc + x))) >= 0.82),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |cc AS (
        |  SELECT src AS doc, src AS lbl FROM edges
        |  UNION
        |  SELECT g.dst AS doc, cc.lbl FROM cc JOIN edges g ON cc.doc = g.src),
        |labels AS (SELECT doc, min(lbl) AS cluster_id FROM cc GROUP BY 1)
        |SELECT a.vec_id, a.bucket,
        |  coalesce(l.cluster_id, a.vec_id) AS survivor_id,
        |  coalesce(l.cluster_id, a.vec_id) = a.vec_id AS is_survivor
        |FROM assigned a LEFT JOIN labels l ON a.vec_id = l.doc""".stripMargin,

    "q68_lm_score" ->
      """WITH tr AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 7 = 0),
        |lm AS (
        |  SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c FROM (
        |    SELECT unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |      for i in generate_series(0, len(t)-2)]) AS p
        |    FROM tr WHERE len(t) >= 2)
        |  GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx FROM lm GROUP BY 1),
        |voc AS (SELECT count(DISTINCT tok) AS v
        |        FROM (SELECT unnest(t) AS tok FROM tr)),
        |sc AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |pr AS (
        |  SELECT doc_id, unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |    for i in generate_series(0, len(t)-2)]) AS p
        |  FROM sc WHERE len(t) >= 2),
        |terms AS (
        |  SELECT pr.doc_id, coalesce(lm.c, 0) AS c,
        |    coalesce(ctx.c_ctx, 0) AS cctx
        |  FROM pr
        |  LEFT JOIN lm ON pr.p['w1'] = lm.w1 AND pr.p['w2'] = lm.w2
        |  LEFT JOIN ctx ON pr.p['w1'] = ctx.w1),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |    CAST(sum(CAST(floor(1e6 * ln(
        |      CAST(c + 1 AS DOUBLE) /
        |      CAST(cctx + (SELECT v FROM voc) AS DOUBLE))) AS BIGINT)) AS BIGINT)
        |      AS ll_scaled
        |  FROM terms GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(a.n_bigrams, 0) AS n_bigrams,
        |  coalesce(a.n_oov, 0) AS n_oov,
        |  coalesce(a.ll_scaled, 0) AS ll_scaled
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    // q69: hash(s) = fold((acc*31 + ascii) % 1e9+7) — the same portable
    // rolling hash as q24; buckets = hash % 512; per-bucket fixed-point
    // log-ratio with add-one smoothing; Gumbel noise from
    // hash('dsir:'||id); selection compares BIGINTs only.
    "q69_dsir" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_concat(t,
        |    [array_to_string(t[i+1:i+2], ' ')
        |     for i in generate_series(0, greatest(len(t)-2, 0))]))
        |    AS gram
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM documents)),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(gram, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 512 AS bucket
        |  FROM grams),
        |ct AS (SELECT bucket, count(*) AS c FROM hashed
        |       WHERE doc_id % 10 = 0 GROUP BY 1),
        |cr AS (SELECT bucket, count(*) AS c FROM hashed
        |       WHERE doc_id % 10 <> 0 GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM ct) AS tt,
        |         (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM cr) AS tr),
        |lr AS (
        |  SELECT b.range AS bucket,
        |    CAST(floor(1e6 * ln(
        |      CAST((coalesce(ct.c, 0) + 1) * (tot.tr + 512) AS DOUBLE) /
        |      CAST((coalesce(cr.c, 0) + 1) * (tot.tt + 512) AS DOUBLE)))
        |      AS BIGINT) AS lr_scaled
        |  FROM range(512) b
        |  LEFT JOIN ct ON b.range = ct.bucket
        |  LEFT JOIN cr ON b.range = cr.bucket
        |  CROSS JOIN tot),
        |w AS (
        |  SELECT h.doc_id,
        |    CAST(sum(lr.lr_scaled) AS BIGINT) AS weight_scaled,
        |    count(*) AS n_grams
        |  FROM hashed h JOIN lr ON h.bucket = lr.bucket
        |  WHERE h.doc_id % 10 <> 0
        |  GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, weight_scaled,
        |    weight_scaled + CAST(floor(1000000.0 *
        |      (-ln(-ln((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array('dsir:' || CAST(doc_id AS VARCHAR), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (acc, c) -> (acc * 31 + c) % 1000000007) + 1)
        |        / 1000000008.0)))) AS BIGINT) AS score_scaled
        |  FROM w),
        |ranked AS (
        |  SELECT row_number() OVER (ORDER BY score_scaled DESC, doc_id ASC)
        |    AS rank, doc_id, weight_scaled, score_scaled
        |  FROM scored)
        |SELECT CAST(rank AS BIGINT) AS rank, doc_id, weight_scaled,
        |  score_scaled
        |FROM ranked WHERE rank <= 100""".stripMargin,

    // q70: the q20 minhash/banding CTEs, restricted to (new-batch,
    // corpus) pairs — the monolithic equivalent of the incremental
    // index path.
    "q70_index_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(regexp_split_to_array(shingle, ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    min((h*1299721 + 15485863) % 1000000007) AS mh_0,
        |    min((h*1299743 + 15485867) % 1000000007) AS mh_1,
        |    min((h*1299763 + 15485917) % 1000000007) AS mh_2,
        |    min((h*1299791 + 15485927) % 1000000007) AS mh_3,
        |    min((h*1299811 + 15485933) % 1000000007) AS mh_4,
        |    min((h*1299817 + 15485941) % 1000000007) AS mh_5,
        |    min((h*1299821 + 15485959) % 1000000007) AS mh_6,
        |    min((h*1299827 + 15485989) % 1000000007) AS mh_7
        |  FROM hashed GROUP BY 1),
        |banded AS (
        |  SELECT doc_id, band_idx,
        |    CASE band_idx
        |      WHEN 0 THEN md5(mh_0 || '|' || mh_1) WHEN 1 THEN md5(mh_2 || '|' || mh_3)
        |      WHEN 2 THEN md5(mh_4 || '|' || mh_5) ELSE md5(mh_6 || '|' || mh_7)
        |    END AS band_key,
        |    mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_idx)),
        |cand AS (
        |  SELECT DISTINCT n.doc_id AS doc_id, c.doc_id AS dup_of,
        |    ((CASE WHEN n.mh_0=c.mh_0 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_1=c.mh_1 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_2=c.mh_2 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_3=c.mh_3 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_4=c.mh_4 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_5=c.mh_5 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_6=c.mh_6 THEN 1 ELSE 0 END) +
        |     (CASE WHEN n.mh_7=c.mh_7 THEN 1 ELSE 0 END)) / 8.0 AS est_jaccard
        |  FROM banded n
        |  JOIN banded c ON n.band_idx = c.band_idx AND n.band_key = c.band_key
        |  WHERE n.doc_id % 3 = 1 AND c.doc_id % 3 <> 1),
        |best AS (
        |  SELECT doc_id, dup_of, est_jaccard,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY est_jaccard DESC, dup_of ASC) AS rnk
        |  FROM cand WHERE est_jaccard >= 0.5)
        |SELECT d.doc_id, b.dup_of IS NOT NULL AS is_dup, b.dup_of,
        |  round(b.est_jaccard, 6) AS est_jaccard
        |FROM documents d
        |LEFT JOIN (SELECT * FROM best WHERE rnk = 1) b ON d.doc_id = b.doc_id
        |WHERE d.doc_id % 3 = 1""".stripMargin,

    // q71: q69's gram/bucket CTEs with hash-derived fixed-point
    // weights — the classifier's full scoring decision on BIGINTs.
    "q71_quality_score" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_concat(t,
        |    [array_to_string(t[i+1:i+2], ' ')
        |     for i in generate_series(0, greatest(len(t)-2, 0))]))
        |    AS gram
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM documents)),
        |hashed AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(gram, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 512 AS bucket
        |  FROM grams),
        |wt AS (
        |  SELECT b.range AS bucket,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array('w:' || CAST(b.range AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 1000001 - 500000
        |      AS w_scaled
        |  FROM range(512) b),
        |s AS (
        |  SELECT h.doc_id, CAST(sum(w.w_scaled) AS BIGINT) AS score_scaled,
        |    count(*) AS n_grams
        |  FROM hashed h JOIN wt w ON h.bucket = w.bucket
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(s.score_scaled, 0) AS score_scaled,
        |  coalesce(s.n_grams, 0) AS n_grams,
        |  coalesce(s.score_scaled, 0) > 0 AS label
        |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin,

    "q72_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos,
        |    unnest(ws) AS win
        |  FROM (SELECT doc_id,
        |          [array_to_string(t[i+1:i+8], ' ')
        |           for i in generate_series(0, greatest(len(t)-8, 0))] AS ws
        |        FROM toks)),
        |hashed AS (
        |  SELECT doc_id, pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(win, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM wins),
        |flagged AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt
        |    FROM hashed)
        |  WHERE cnt >= 2),
        |cov AS (
        |  SELECT doc_id, count(*) AS n_dup_windows,
        |    CAST(sum(CASE WHEN nxt IS NULL THEN 8
        |              ELSE least(8, nxt - pos) END) AS BIGINT) AS dup_raw
        |  FROM (SELECT doc_id, pos,
        |          lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |        FROM flagged)
        |  GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(greatest(len(t.t) - 8, 0) + 1 AS BIGINT) AS n_windows,
        |  coalesce(c.n_dup_windows, 0) AS n_dup_windows,
        |  least(coalesce(c.dup_raw, 0), len(t.t)) AS dup_tokens,
        |  round(CAST(least(coalesce(c.dup_raw, 0), len(t.t)) AS DOUBLE)
        |    / len(t.t), 6) AS dup_ratio
        |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id""".stripMargin,

    // q73: the q51 skeleton with the round-3 stages spliced in —
    // each stage's CTEs are scoped to the previous stage's survivors.
    "q73_curation_full" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |ratios AS (
        |  SELECT doc_id, text, t,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
        |      / len(t) AS sw,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |      / length(text) AS punct,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / length(text) AS alpha
        |  FROM base),
        |lang AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(t, x -> list_contains(['the','and','of','is'], x)))
        |      + (length(text) - length(replace(text, 'th', ''))) / 2
        |      + (length(text) - length(replace(text, 'ing', ''))) / 3
        |      + (length(text) - length(replace(text, 'he ', ''))) / 3 AS BIGINT) AS score_en,
        |    CAST(len(list_filter(t, x -> list_contains(['el','la','de','que'], x)))
        |      + (length(text) - length(replace(text, 'ión', ''))) / 3
        |      + (length(text) - length(replace(text, 'os ', ''))) / 3
        |      + (length(text) - length(replace(text, 'que', ''))) / 3 AS BIGINT) AS score_es,
        |    CAST(len(list_filter(t, x -> list_contains(['der','die','und','ist'], x)))
        |      + (length(text) - length(replace(text, 'sch', ''))) / 3
        |      + (length(text) - length(replace(text, 'ein', ''))) / 3
        |      + (length(text) - length(replace(text, 'und', ''))) / 3 AS BIGINT) AS score_de,
        |    CAST(len(list_filter(t, x -> list_contains(['le','la','et','est'], x)))
        |      + (length(text) - length(replace(text, 'eau', ''))) / 3
        |      + (length(text) - length(replace(text, 'oux', ''))) / 3
        |      + (length(text) - length(replace(text, 'ent', ''))) / 3 AS BIGINT) AS score_fr
        |  FROM base),
        |qual AS (
        |  SELECT doc_id, text, t,
        |    round(sw * 0.4 + alpha * 0.6 - punct * 0.5, 6) AS quality_score
        |  FROM ratios),
        |rep AS (
        |  SELECT doc_id,
        |    round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
        |      AS dup_token_ratio
        |  FROM base),
        |gated AS (
        |  SELECT q.doc_id, q.text, q.t, q.quality_score,
        |    q.quality_score >= 0.51 AS quality_ok,
        |    r.dup_token_ratio <= 0.6 AS rep_ok
        |  FROM qual q JOIN rep r ON q.doc_id = r.doc_id),
        |g1 AS (SELECT doc_id, text, t FROM gated WHERE quality_ok AND rep_ok),
        |wins AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos,
        |    unnest(ws) AS win
        |  FROM (SELECT doc_id,
        |          [array_to_string(t[i+1:i+8], ' ')
        |           for i in generate_series(0, greatest(len(t)-8, 0))] AS ws
        |        FROM g1)),
        |whash AS (
        |  SELECT doc_id, pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(win, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM wins),
        |wflag AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt
        |    FROM whash)
        |  WHERE cnt >= 2),
        |wcov AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN nxt IS NULL THEN 8
        |              ELSE least(8, nxt - pos) END) AS BIGINT) AS dup_raw
        |  FROM (SELECT doc_id, pos,
        |          lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |        FROM wflag)
        |  GROUP BY 1),
        |spans AS (
        |  SELECT g.doc_id,
        |    round(CAST(least(coalesce(c.dup_raw, 0), len(g.t)) AS DOUBLE)
        |      / len(g.t), 6) <= 0.8 AS span_ok
        |  FROM g1 g LEFT JOIN wcov c ON g.doc_id = c.doc_id),
        |g2 AS (
        |  SELECT g.doc_id, g.text, g.t
        |  FROM g1 g JOIN spans s ON g.doc_id = s.doc_id WHERE s.span_ok),
        |keptx AS (
        |  SELECT doc_id, text, t,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM g2),
        |kept AS (SELECT doc_id, text, t FROM keptx WHERE rn = 1),
        |lmp AS (
        |  SELECT doc_id, unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |    for i in generate_series(0, len(t)-2)]) AS p
        |  FROM kept WHERE len(t) >= 2),
        |lm AS (
        |  SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c
        |  FROM lmp GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx FROM lm GROUP BY 1),
        |voc AS (SELECT count(DISTINCT tok) AS v
        |        FROM (SELECT unnest(t) AS tok FROM kept)),
        |lterm AS (
        |  SELECT l0.doc_id, coalesce(lm.c, 0) AS c,
        |    coalesce(ctx.c_ctx, 0) AS cctx
        |  FROM lmp l0
        |  LEFT JOIN lm ON l0.p['w1'] = lm.w1 AND l0.p['w2'] = lm.w2
        |  LEFT JOIN ctx ON l0.p['w1'] = ctx.w1),
        |lscore AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CAST(floor(1e6 * ln(
        |      CAST(c + 1 AS DOUBLE) /
        |      CAST(cctx + (SELECT v FROM voc) AS DOUBLE))) AS BIGINT)) AS BIGINT)
        |      AS ll_scaled
        |  FROM lterm GROUP BY 1),
        |lmg AS (
        |  SELECT k.doc_id,
        |    coalesce(s.n_bigrams, 0) AS n_bigrams,
        |    coalesce(s.ll_scaled, 0) AS ll_scaled,
        |    coalesce(s.ll_scaled, 0) >= -3450000 * coalesce(s.n_bigrams, 0)
        |      AS lm_ok
        |  FROM kept k LEFT JOIN lscore s ON k.doc_id = s.doc_id),
        |g3 AS (
        |  SELECT k.doc_id, k.text, k.t
        |  FROM kept k JOIN lmg ON k.doc_id = lmg.doc_id WHERE lmg.lm_ok),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM g3),
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT p.doc_a, p.doc_b
        |  FROM cand p
        |  JOIN counts ca ON p.doc_a = ca.doc_id
        |  JOIN counts cb ON p.doc_b = cb.doc_id
        |  WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |cc AS (
        |  SELECT src AS doc, src AS lbl FROM edges
        |  UNION
        |  SELECT e.dst AS doc, cc.lbl FROM cc JOIN edges e ON cc.doc = e.src),
        |labels AS (SELECT doc, min(lbl) AS cluster_id FROM cc GROUP BY 1),
        |resolved AS (
        |  SELECT k.doc_id, coalesce(l.cluster_id, k.doc_id) AS survivor_id
        |  FROM g3 k LEFT JOIN labels l ON k.doc_id = l.doc)
        |SELECT g.doc_id,
        |  CASE
        |    WHEN lg.score_fr > greatest(lg.score_de, lg.score_en, lg.score_es) THEN 'fr'
        |    WHEN lg.score_es > greatest(lg.score_de, lg.score_en) THEN 'es'
        |    WHEN lg.score_en > lg.score_de THEN 'en'
        |    ELSE 'de' END AS lang_pred,
        |  g.quality_score, g.quality_ok, g.rep_ok,
        |  coalesce(s.span_ok, FALSE) AS span_ok,
        |  lmg.n_bigrams, lmg.ll_scaled,
        |  coalesce(lmg.lm_ok, FALSE) AS lm_ok,
        |  (r.doc_id IS NOT NULL) AS kept_exact,
        |  r.survivor_id,
        |  coalesce(r.survivor_id = g.doc_id, FALSE) AS is_survivor
        |FROM gated g
        |JOIN lang lg ON g.doc_id = lg.doc_id
        |LEFT JOIN spans s ON g.doc_id = s.doc_id
        |LEFT JOIN lmg ON g.doc_id = lmg.doc_id
        |LEFT JOIN resolved r ON g.doc_id = r.doc_id""".stripMargin,

    // q74/q75: the global cumulative token sum places every doc at
    // interval [s, e); a doc intersects sequences s/L .. (e-1)/L.
    // `//` integer division (DuckDB CAST rounds, `//` truncates like
    // Spark); every sum CAST to BIGINT (HUGEINT otherwise).
    "q74_pack_map" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS e
        |  FROM tok),
        |placed AS (SELECT doc_id, n, e - n AS s, e FROM cum WHERE n > 0),
        |ex AS (
        |  SELECT doc_id, s, e,
        |    unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
        |  FROM placed)
        |SELECT doc_id, seq_id,
        |  greatest(s, seq_id * 512) - seq_id * 512 AS seq_off,
        |  greatest(seq_id * 512 - s, 0) AS doc_off,
        |  least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS n_toks
        |FROM ex""".stripMargin,

    // q74's map re-aggregated per sequence, boundaries as the same
    // canonical off:doc:len string (ordered by in-sequence offset)
    "q110_pack_boundaries" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS e
        |  FROM tok),
        |placed AS (SELECT doc_id, n, e - n AS s, e FROM cum WHERE n > 0),
        |ex AS (
        |  SELECT doc_id, s, e,
        |    unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
        |  FROM placed),
        |slices AS (
        |  SELECT doc_id, seq_id,
        |    greatest(s, seq_id * 512) - seq_id * 512 AS seq_off,
        |    least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS n_toks
        |  FROM ex)
        |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  string_agg(seq_off || ':' || doc_id || ':' || n_toks, ';'
        |    ORDER BY seq_off) AS bounds
        |FROM slices GROUP BY seq_id""".stripMargin,

    "q75_pack_seqs" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS e
        |  FROM tok),
        |placed AS (SELECT doc_id, n, e - n AS s, e FROM cum WHERE n > 0),
        |m AS (
        |  SELECT doc_id, s, e,
        |    unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
        |  FROM placed),
        |slices AS (
        |  SELECT m.seq_id,
        |    greatest(m.s, m.seq_id * 512) - m.seq_id * 512 AS seq_off,
        |    least(m.e, (m.seq_id + 1) * 512) - greatest(m.s, m.seq_id * 512)
        |      AS n_toks,
        |    array_to_string(list_slice(
        |      regexp_split_to_array(trim(d.text), '\s+'),
        |      greatest(m.seq_id * 512 - m.s, 0) + 1,
        |      greatest(m.seq_id * 512 - m.s, 0)
        |        + least(m.e, (m.seq_id + 1) * 512)
        |        - greatest(m.s, m.seq_id * 512)), ' ') AS piece
        |  FROM m JOIN documents d ON m.doc_id = d.doc_id)
        |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  string_agg(piece, ' ' ORDER BY seq_off) AS text
        |FROM slices GROUP BY 1""".stripMargin,

    // q76: same n-gram comprehension the q72/q73 oracles pin against
    // ShingleArray (short docs yield their single partial gram).
    "q76_top_ngrams" ->
      """WITH w AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |g AS (
        |  SELECT unnest([array_to_string(t[i+1:i+3], ' ')
        |    for i in generate_series(0, greatest(len(t)-3, 0))]) AS ngram
        |  FROM w)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
        |FROM g GROUP BY 1
        |ORDER BY cnt DESC, ngram LIMIT 100""".stripMargin,

    // q77: sqrt/division are IEEE-correctly-rounded, so the
    // floor(rate * 2^20) threshold matches Spark bit-for-bit; the
    // hash is the engine's portable polynomial rolling hash (q24/q60
    // recipe).
    "q77_temperature_mix" ->
      """WITH counts AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_source
        |  FROM documents GROUP BY 1),
        |mn AS (SELECT min(n_source) AS n_min FROM counts),
        |rates AS (
        |  SELECT source, n_source,
        |    CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n_source) * 1048576)
        |      AS BIGINT) AS keep_below
        |  FROM counts, mn),
        |h AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(doc_id || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 1048576 AS mix_hash
        |  FROM documents)
        |SELECT h.doc_id, h.source, r.n_source, r.keep_below, h.mix_hash,
        |  h.mix_hash < r.keep_below AS mix_kept
        |FROM h JOIN rates r ON h.source = r.source""".stripMargin,

    // q78: the whole merge loop replayed relationally (see
    // q78OracleSql — aggregate-in-recursive-CTE argmax per step).
    "q78_bpe_merges" -> q78OracleSql,

    // q79: the q74 placement algebra under the n_chars cost model.
    "q79_pack_by_cost" ->
      """WITH cum AS (
        |  SELECT doc_id, n_chars AS n,
        |    CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS e
        |  FROM documents),
        |placed AS (SELECT doc_id, n, e - n AS s, e FROM cum WHERE n > 0),
        |ex AS (
        |  SELECT doc_id, s, e,
        |    unnest(generate_series(s // 4096, (e - 1) // 4096)) AS seq_id
        |  FROM placed)
        |SELECT doc_id, seq_id,
        |  greatest(s, seq_id * 4096) - seq_id * 4096 AS seq_off,
        |  greatest(seq_id * 4096 - s, 0) AS doc_off,
        |  least(e, (seq_id + 1) * 4096) - greatest(s, seq_id * 4096) AS n_toks
        |FROM ex""".stripMargin,

    // q80: the flagship composition under a FULL oracle (see
    // q80OracleSql — the whole curate→train→encode→pack pipeline
    // replayed as one DuckDB statement, digests compared).
    "q80_corpus_to_sequences" -> q80OracleSql,

    // q81: base id hash, then the per-epoch Lehmer scramble
    // key_e = h * 48271^(e+1) + e (mod p). p^2 < 2^63 so the products
    // are exact BIGINT in both engines.
    "q81_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(doc_id || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 1000000007 AS hv
        |  FROM documents)
        |SELECT doc_id,
        |  (hv * 48271) % 1000000007 AS key_epoch0,
        |  ((hv * ((CAST(48271 AS BIGINT) * 48271) % 1000000007))
        |    % 1000000007 + 1) % 1000000007 AS key_epoch1
        |FROM h""".stripMargin,

    "q82_bpe_dict" ->
      """SELECT word, cnt FROM (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE length(word) > 0 GROUP BY 1)
        |WHERE cnt >= 2""".stripMargin,

    // q83: the q75 window algebra restricted to the fetched shard
    // range — the engine's answer went through a clustered snapshot
    // commit and a stat-pruned read and must still match.
    "q83_pack_shards" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS e
        |  FROM tok),
        |placed AS (SELECT doc_id, n, e - n AS s, e FROM cum WHERE n > 0),
        |m AS (
        |  SELECT doc_id, s, e,
        |    unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
        |  FROM placed),
        |slices AS (
        |  SELECT m.seq_id,
        |    greatest(m.s, m.seq_id * 512) - m.seq_id * 512 AS seq_off,
        |    least(m.e, (m.seq_id + 1) * 512) - greatest(m.s, m.seq_id * 512)
        |      AS n_toks,
        |    array_to_string(list_slice(
        |      regexp_split_to_array(trim(d.text), '\s+'),
        |      greatest(m.seq_id * 512 - m.s, 0) + 1,
        |      greatest(m.seq_id * 512 - m.s, 0)
        |        + least(m.e, (m.seq_id + 1) * 512)
        |        - greatest(m.s, m.seq_id * 512)), ' ') AS piece
        |  FROM m JOIN documents d ON m.doc_id = d.doc_id
        |  WHERE m.seq_id <= 3),
        |assembled AS (
        |  SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |    string_agg(piece, ' ' ORDER BY seq_off) AS text
        |  FROM slices GROUP BY 1)
        |SELECT * FROM assembled""".stripMargin,

    // q222: dense digit spine, exact micro shares, the same micro
    // literals for the Benford expectation
    "q222_benford" ->
      """WITH obs AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
        |spine AS (
        |  SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), CAST(301030 AS BIGINT)), (2, 176091),
        |    (3, 124939), (4, 96910), (5, 79181), (6, 66947),
        |    (7, 57992), (8, 51153), (9, 45757)) AS t(digit, benford_micro)),
        |total AS (SELECT sum(n_obs) AS n FROM obs)
        |SELECT s.digit, coalesce(o.n_obs, 0) AS n_obs,
        |  CAST(coalesce(o.n_obs, 0) * 1000000 // t.n AS BIGINT)
        |    AS share_micro,
        |  s.benford_micro,
        |  CAST(abs(coalesce(o.n_obs, 0) * 1000000 // t.n - s.benford_micro)
        |    AS BIGINT) AS dev_micro
        |FROM spine s LEFT JOIN obs o ON s.digit = o.digit
        |CROSS JOIN total t""".stripMargin,

    // q223: the q60 hash-split replay feeding four exact counts; z is
    // the identical float expression tree (each op correctly rounded)
    "q223_ab_ztest" ->
      """WITH u AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= 5 AS y
        |  FROM events GROUP BY 1),
        |h AS (
        |  SELECT y,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(user_id AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM u),
        |arms AS (
        |  SELECT CASE WHEN hv % 1000000 < 500000 THEN 'a' ELSE 'b' END
        |    AS arm, y FROM h),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'a' AND y THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
        |    CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'b' AND y THEN 1 ELSE 0 END) AS BIGINT) AS x_b
        |  FROM arms),
        |zed AS (
        |  SELECT n_a, x_a, n_b, x_b,
        |    CASE WHEN n_a > 0 AND n_b > 0
        |        AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b
        |      THEN round(
        |        (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |         - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |        / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |          * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |          * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
        |      END AS z
        |  FROM agg)
        |SELECT n_a, x_a, n_b, x_b, z,
        |  coalesce(abs(z) > 1.959964, FALSE) AS significant
        |FROM zed""".stripMargin,

    // q218: merge-of-halves == direct bottom-k over the whole
    // (mergeability), so the oracle sketches directly; the q206 hash
    // chain, QUALIFY-style rank windows, pure BIGINT floor algebra
    "q218_theta_overlap" ->
      """WITH ev AS (
        |  SELECT DISTINCT event_type AS g,
        |    CAST(user_id AS VARCHAR) || ':' ||
        |      CAST(CAST(ts AS DATE) AS VARCHAR) AS key
        |  FROM events),
        |h0 AS (
        |  SELECT g, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(key, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM ev),
        |h1 AS (SELECT g, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT g, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |h3 AS (SELECT g, xor(h, h // 65536) AS hv FROM h2),
        |hd AS (SELECT DISTINCT g, hv FROM h3),
        |sk AS (
        |  SELECT g, hv FROM (
        |    SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
        |    FROM hd) WHERE rn <= 64),
        |stats AS (
        |  SELECT g,
        |    CASE WHEN count(*) < 64 THEN 4294967296 ELSE max(hv) END AS theta,
        |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
        |         ELSE 63 * 4294967296 // max(hv) END AS est_n
        |  FROM sk GROUP BY g),
        |mg AS (
        |  SELECT a.g AS g_a, b.g AS g_b, a.hv FROM sk a JOIN sk b ON a.g < b.g
        |  UNION
        |  SELECT a.g, b.g, b.hv FROM sk a JOIN sk b ON a.g < b.g),
        |us AS (
        |  SELECT g_a, g_b,
        |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
        |         ELSE 63 * 4294967296 // max(hv) END AS union_est
        |  FROM (SELECT g_a, g_b, hv, row_number()
        |          OVER (PARTITION BY g_a, g_b ORDER BY hv) AS rn FROM mg)
        |  WHERE rn <= 64 GROUP BY g_a, g_b),
        |cm AS (
        |  SELECT a.g AS g_a, b.g AS g_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM sk a JOIN sk b ON a.hv = b.hv AND a.g < b.g
        |  JOIN stats sa ON sa.g = a.g JOIN stats sb ON sb.g = b.g
        |  WHERE a.hv < least(sa.theta, sb.theta)
        |  GROUP BY 1, 2),
        |exn AS (SELECT g, CAST(count(*) AS BIGINT) AS n_ex FROM ev GROUP BY g),
        |exi AS (
        |  SELECT a.g AS g_a, b.g AS g_b, CAST(count(*) AS BIGINT) AS exact_int
        |  FROM ev a JOIN ev b ON a.key = b.key AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT sa.g AS g_a, sb.g AS g_b, sa.est_n AS est_a, sb.est_n AS est_b,
        |  us.union_est,
        |  coalesce(cm.n_common, 0) * 4294967296
        |    // least(sa.theta, sb.theta) AS intersect_est,
        |  na.n_ex + nb.n_ex - coalesce(exi.exact_int, 0) AS exact_union,
        |  coalesce(exi.exact_int, 0) AS exact_intersect
        |FROM stats sa JOIN stats sb ON sa.g < sb.g
        |LEFT JOIN us ON us.g_a = sa.g AND us.g_b = sb.g
        |LEFT JOIN cm ON cm.g_a = sa.g AND cm.g_b = sb.g
        |LEFT JOIN exi ON exi.g_a = sa.g AND exi.g_b = sb.g
        |JOIN exn na ON na.g = sa.g JOIN exn nb ON nb.g = sb.g""".stripMargin,

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

    // q249: q151's lattice AUC, source-partitioned
    "q249_group_auc" ->
      s"""WITH base AS (
        |  SELECT source, lang, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |sc AS (
        |  SELECT source, (lang = 'en') AS y,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s
        |  FROM base),
        |g AS (
        |  SELECT source, s,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM sc GROUP BY 1, 2),
        |c AS (
        |  SELECT source, np, nn,
        |    COALESCE(sum(nn) OVER (PARTITION BY source ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
        |  FROM g),
        |t AS (
        |  SELECT source, CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(nn) AS BIGINT) AS n_neg,
        |    CAST(sum(2 * np * cum_nn + np * nn) AS BIGINT) AS num2
        |  FROM c GROUP BY 1)
        |SELECT source, n_pos, n_neg,
        |  CAST(CASE WHEN n_pos > 0 AND n_neg > 0
        |    THEN num2 * 1000000 // (2 * n_pos * n_neg) END AS BIGINT)
        |    AS auc_micro
        |FROM t""".stripMargin,

    // q250: the q234 BM25 chain + graded relevance + the identical
    // per-position round(gain*1e6/ln(rank+1)) fixed-point sums
    "q250_retrieval_ndcg" -> q250OracleSql,

    // q251: one grouped count over the QI key, spine x class algebra
    "q251_kanonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |    CAST(count(*) AS BIGINT) AS class_size
        |  FROM customer GROUP BY 1, 2, 3),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(sum(class_size) AS BIGINT) AS n_rows,
        |    CAST(min(class_size) AS BIGINT) AS min_class_size FROM cls),
        |ks AS (SELECT * FROM (VALUES (CAST(2 AS BIGINT)), (5), (10), (20))
        |  AS v(k)),
        |per AS (
        |  SELECT k.k,
        |    CAST(sum(CASE WHEN c.class_size < k.k THEN 1 ELSE 0 END)
        |      AS BIGINT) AS classes_below,
        |    CAST(sum(CASE WHEN c.class_size < k.k THEN c.class_size
        |      ELSE 0 END) AS BIGINT) AS rows_at_risk
        |  FROM ks k CROSS JOIN cls c GROUP BY 1)
        |SELECT p.k, t.n_classes, t.n_rows, t.min_class_size,
        |  p.classes_below, p.rows_at_risk,
        |  CAST(p.rows_at_risk * 1000000 // t.n_rows AS BIGINT)
        |    AS risk_share_micro,
        |  (t.min_class_size >= p.k) AS satisfies_k
        |FROM per p CROSS JOIN t""".stripMargin,

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

    // q253: prefix filtering is LOSSLESS, so the oracle is q19's own
    // exact all-pairs Jaccard — the candidate scheme must reproduce it
    "q253_prefix_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b,
        |  round(CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common), 6) AS jaccard
        |FROM pairs p
        |JOIN counts ca ON p.doc_a = ca.doc_id
        |JOIN counts cb ON p.doc_b = cb.doc_id
        |WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.6""".stripMargin,

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

    // q255: the versions replayed relationally (only price can
    // change, so the diff collapses to key+price algebra)
    "q255_snapshot_diff" ->
      """WITH v0 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderdate < DATE '1996-01-01'),
        |v1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS price
        |  FROM v0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderkey % 199 = 0),
        |v2 AS (SELECT * FROM v1 WHERE o_orderkey % 485 <> 0),
        |d AS (
        |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN a.o_orderkey IS NULL THEN 'insert'
        |         WHEN b.o_orderkey IS NULL THEN 'delete'
        |         WHEN a.o_totalprice <> b.price THEN 'update' END AS change,
        |    a.o_totalprice AS oldp, b.price AS newp
        |  FROM v0 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
        |SELECT o_orderkey, change, round(oldp, 2) AS old_price,
        |  round(newp, 2) AS new_price
        |FROM d WHERE change IS NOT NULL""".stripMargin,

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

    // q257: identical sufficient-stat collapse, micro contributions,
    // and the one fixed F expression
    "q257_anova" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(vc) AS BIGINT) AS s,
        |    CAST(sum(vc * vc) AS BIGINT) AS q
        |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
        |        FROM events)
        |  GROUP BY 1),
        |c AS (
        |  SELECT n, s, q,
        |    CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * 10000.0) * 1000000.0) AS BIGINT)
        |      AS contrib
        |  FROM g),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(sum(s) AS BIGINT) AS st, CAST(sum(q) AS BIGINT) AS qt,
        |    CAST(sum(contrib) AS BIGINT) AS cm
        |  FROM c),
        |f AS (
        |  SELECT n_groups, n_rows,
        |    cm - CAST(round(CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |      / (CAST(n_rows AS DOUBLE) * 10000.0) * 1000000.0) AS BIGINT)
        |      AS ssb_micro,
        |    qt * 100 - cm AS ssw_micro
        |  FROM t)
        |SELECT n_groups, n_rows, ssb_micro, ssw_micro,
        |  CASE WHEN n_groups > 1 AND n_rows > n_groups AND ssw_micro > 0
        |    THEN round((CAST(ssb_micro AS DOUBLE) / (n_groups - 1))
        |      / (CAST(ssw_micro AS DOUBLE) / (n_rows - n_groups)), 6) END
        |    AS f_value
        |FROM f""".stripMargin,

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

    // q259: the same four-cell sufficient stats and the same two
    // fixed float trees
    "q259_did" ->
      """WITH e AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN 1 ELSE 0 END AS p,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT t, p, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS q
        |  FROM e GROUP BY 1, 2),
        |w AS (
        |  SELECT
        |    CAST(sum(CASE WHEN t = 0 AND p = 0 THEN n END) AS BIGINT) AS n_c0,
        |    CAST(sum(CASE WHEN t = 0 AND p = 0 THEN s END) AS BIGINT) AS s_c0,
        |    CAST(sum(CASE WHEN t = 0 AND p = 0 THEN q END) AS BIGINT) AS q_c0,
        |    CAST(sum(CASE WHEN t = 0 AND p = 1 THEN n END) AS BIGINT) AS n_c1,
        |    CAST(sum(CASE WHEN t = 0 AND p = 1 THEN s END) AS BIGINT) AS s_c1,
        |    CAST(sum(CASE WHEN t = 0 AND p = 1 THEN q END) AS BIGINT) AS q_c1,
        |    CAST(sum(CASE WHEN t = 1 AND p = 0 THEN n END) AS BIGINT) AS n_t0,
        |    CAST(sum(CASE WHEN t = 1 AND p = 0 THEN s END) AS BIGINT) AS s_t0,
        |    CAST(sum(CASE WHEN t = 1 AND p = 0 THEN q END) AS BIGINT) AS q_t0,
        |    CAST(sum(CASE WHEN t = 1 AND p = 1 THEN n END) AS BIGINT) AS n_t1,
        |    CAST(sum(CASE WHEN t = 1 AND p = 1 THEN s END) AS BIGINT) AS s_t1,
        |    CAST(sum(CASE WHEN t = 1 AND p = 1 THEN q END) AS BIGINT) AS q_t1
        |  FROM c)
        |SELECT n_c0, s_c0, n_c1, s_c1, n_t0, s_t0, n_t1, s_t1,
        |  CASE WHEN n_c0 > 0 AND n_c1 > 0 AND n_t0 > 0 AND n_t1 > 0
        |  THEN CAST(round(
        |    (CAST(s_t1 AS DOUBLE) / n_t1 - CAST(s_t0 AS DOUBLE) / n_t0
        |   - CAST(s_c1 AS DOUBLE) / n_c1 + CAST(s_c0 AS DOUBLE) / n_c0)
        |    * 10000.0) AS BIGINT) END AS did_micro,
        |  CASE WHEN n_c0 > 1 AND n_c1 > 1 AND n_t0 > 1 AND n_t1 > 1
        |  THEN CAST(round(sqrt(
        |    (CAST(q_t1 AS DOUBLE) - CAST(s_t1 AS DOUBLE) * s_t1 / n_t1)
        |      / (n_t1 - 1) / n_t1
        |  + (CAST(q_t0 AS DOUBLE) - CAST(s_t0 AS DOUBLE) * s_t0 / n_t0)
        |      / (n_t0 - 1) / n_t0
        |  + (CAST(q_c1 AS DOUBLE) - CAST(s_c1 AS DOUBLE) * s_c1 / n_c1)
        |      / (n_c1 - 1) / n_c1
        |  + (CAST(q_c0 AS DOUBLE) - CAST(s_c0 AS DOUBLE) * s_c0 / n_c0)
        |      / (n_c0 - 1) / n_c0)
        |    * 10000.0) AS BIGINT) END AS se_micro
        |FROM w""".stripMargin,

    // q260: the same BIGINT grid and the same per-cell fixed float
    // expression (isodow - 1 == Spark's weekday, Mon=0)
    "q260_mutual_info" ->
      """WITH g AS (
        |  SELECT event_type AS x, isodow(CAST(ts AS DATE)) - 1 AS y,
        |    CAST(count(*) AS BIGINT) AS nxy
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT nxy,
        |    CAST(sum(nxy) OVER (PARTITION BY x) AS BIGINT) AS nx,
        |    CAST(sum(nxy) OVER (PARTITION BY y) AS BIGINT) AS ny,
        |    CAST(sum(nxy) OVER () AS BIGINT) AS nn
        |  FROM g),
        |m AS (
        |  SELECT nn,
        |    CAST(round(CAST(nxy AS DOUBLE) / nn
        |      * ln(CAST(nxy AS DOUBLE) * nn
        |           / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS contrib
        |  FROM c)
        |SELECT CAST(max(nn) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(contrib) AS BIGINT) AS mi_micro
        |FROM m""".stripMargin,

    // q261: the capped path is LOSSLESS on this corpus (no prefix
    // posting above maxDf=64), so the oracle is the exact Jaccard
    // self-join — identical to q253's; a divergence means the cap bit
    // where it must not
    "q261_prefix_jaccard_capped" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+3], ' ')
        |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
        |  FROM toks),
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b,
        |  round(CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common), 6) AS jaccard
        |FROM pairs p
        |JOIN counts ca ON p.doc_a = ca.doc_id
        |JOIN counts cb ON p.doc_b = cb.doc_id
        |WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.6""".stripMargin,

    // q262: melt == the grouped long-form sums directly (absent
    // (dow, type) cells are dropped on both sides)
    "q262_unpivot" ->
      """SELECT isodow(CAST(ts AS DATE)) - 1 AS dow, event_type,
        |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS total_micro
        |FROM events
        |WHERE event_type IN ('click','error','purchase','signup','view')
        |GROUP BY 1, 2""".stripMargin,

    // q263: grid completed to the full cross product (zero cells
    // contribute E), per-cell contribution micro-rounded, V one float
    // tree over the exact sums
    "q263_chi2" ->
      """WITH g AS (
        |  SELECT event_type AS x, isodow(CAST(ts AS DATE)) - 1 AS y,
        |    CAST(count(*) AS BIGINT) AS nxy
        |  FROM events GROUP BY 1, 2),
        |xs AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM g GROUP BY 1),
        |ys AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM g GROUP BY 1),
        |t AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn,
        |  CAST(count(DISTINCT x) AS BIGINT) AS kx,
        |  CAST(count(DISTINCT y) AS BIGINT) AS ky FROM g),
        |fullg AS (
        |  SELECT xs.x, ys.y, nx, ny, coalesce(g.nxy, 0) AS nxy, nn, kx, ky
        |  FROM xs CROSS JOIN ys
        |  LEFT JOIN g ON g.x = xs.x AND g.y = ys.y
        |  CROSS JOIN t),
        |c AS (SELECT nn, kx, ky,
        |  CAST(round(
        |    (CAST(nxy AS DOUBLE) - CAST(nx AS DOUBLE) * ny / nn)
        |    * (CAST(nxy AS DOUBLE) - CAST(nx AS DOUBLE) * ny / nn)
        |    / (CAST(nx AS DOUBLE) * ny / nn) * 1000000.0) AS BIGINT)
        |    AS contrib
        |  FROM fullg)
        |SELECT max(nn) AS n_rows, max(kx) AS k_x, max(ky) AS k_y,
        |  (max(kx) - 1) * (max(ky) - 1) AS dof,
        |  CASE WHEN (max(kx) - 1) * (max(ky) - 1) > 0
        |    THEN CAST(sum(contrib) AS BIGINT) END AS chi2_micro,
        |  CASE WHEN (max(kx) - 1) * (max(ky) - 1) > 0 THEN
        |    round(sqrt(CAST(CAST(sum(contrib) AS BIGINT) AS DOUBLE)
        |      / 1000000.0
        |      / (CAST(max(nn) AS DOUBLE) * least(max(kx) - 1, max(ky) - 1))),
        |      6) END AS cramers_v
        |FROM c""".stripMargin,

    // q264: weights tf·milli-idf as exact integers, dots/norms exact
    // sums, cosine one sqrt/div tree over them (bit-identical);
    // candidate generation replays the SAME df<=64 cap
    "q264_tfidf_cosine_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |w AS (
        |  SELECT doc_id, t.term, df,
        |    tf * CAST(round((ln((CAST(nd AS DOUBLE) + 1.0)
        |      / (CAST(df AS DOUBLE) + 1.0)) + 1.0) * 1000.0) AS BIGINT) AS w
        |  FROM tf t JOIN dfreq USING (term) CROSS JOIN nd),
        |norms AS (SELECT doc_id, sum(w * w) AS nrm2 FROM w GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    sum(a.w * b.w) AS dot2
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  WHERE a.df <= 64 AND b.df <= 64
        |  GROUP BY 1, 2)
        |SELECT d.doc_a, d.doc_b,
        |  round(CAST(d.dot2 AS DOUBLE)
        |    / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))),
        |    6) AS cosine
        |FROM dots d
        |JOIN norms na ON d.doc_a = na.doc_id
        |JOIN norms nb ON d.doc_b = nb.doc_id
        |WHERE CAST(d.dot2 AS DOUBLE)
        |  / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE)))
        |  >= 0.2""".stripMargin,

    // q265: the four SPRT constants are computed by the SAME JVM
    // expressions Eval.sprt uses, inlined as integer literals; the
    // running LLR and every crossing decision are integer arithmetic
    "q265_sprt" -> {
      val incS = math.round(math.log(0.55 / 0.45) * 1e6)
      val incF = math.round(math.log(0.45 / 0.55) * 1e6)
      val lo = math.round(math.log(0.05 / 0.95) * 1e6)
      val hi = math.round(math.log(0.95 / 0.05) * 1e6)
      s"""WITH obs AS (
         |  SELECT event_type AS k, (value >= 32.0) AS s, ts, event_id
         |  FROM events),
         |walked AS (
         |  SELECT k, s,
         |    sum(CASE WHEN s THEN $incS ELSE $incF END)
         |      OVER (PARTITION BY k ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS llr,
         |    row_number() OVER (PARTITION BY k ORDER BY ts, event_id)
         |      AS rn
         |  FROM obs),
         |v AS (SELECT k, s, rn,
         |    CASE WHEN llr <= $lo THEN 'h0'
         |         WHEN llr >= $hi THEN 'h1' END AS verdict
         |  FROM walked)
         |SELECT k AS key, CAST(count(*) AS BIGINT) AS n_obs,
         |  CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n_success,
         |  coalesce(arg_min(verdict, rn) FILTER (WHERE verdict IS NOT NULL),
         |    'continue') AS decision,
         |  CAST(min(rn) FILTER (WHERE verdict IS NOT NULL) AS BIGINT)
         |    AS n_at_decision,
         |  CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) * $incS
         |    + (count(*) - sum(CASE WHEN s THEN 1 ELSE 0 END)) * $incF
         |    AS BIGINT) AS llr_final_micro
         |FROM v GROUP BY 1""".stripMargin
    },

    // q266: same lattice, same doubled midranks (integers end to end),
    // z replayed as the identical float tree over the exact sums
    "q266_mann_whitney" ->
      """WITH r AS (
        |  SELECT event_type AS k,
        |    CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS a,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |lat AS (
        |  SELECT k, v,
        |    CAST(sum(CASE WHEN a = 'even' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_a,
        |    CAST(sum(CASE WHEN a = 'odd' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_b
        |  FROM r GROUP BY 1, 2),
        |w AS (
        |  SELECT k, c_a, c_b, c_a + c_b AS t,
        |    coalesce(CAST(sum(c_a + c_b) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum_below
        |  FROM lat),
        |agg AS (
        |  SELECT k AS key,
        |    CAST(sum(c_a) AS BIGINT) AS n_a,
        |    CAST(sum(c_b) AS BIGINT) AS n_b,
        |    sum(CAST(c_a AS DECIMAL(38,0)) * (2 * cum_below + t + 1))
        |      AS r2sum_a,
        |    sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tie3
        |  FROM w GROUP BY 1),
        |u AS (
        |  SELECT key, n_a, n_b, tie3,
        |    CAST(r2sum_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)
        |      AS BIGINT) AS u2_a
        |  FROM agg)
        |SELECT key, n_a, n_b, u2_a,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |    AND tie3 < CAST(n_a + n_b AS DECIMAL(38,0)) * (n_a + n_b)
        |        * (n_a + n_b) - (n_a + n_b)
        |  THEN round(
        |    (CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
        |    / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
        |        * (CAST(n_a + n_b AS DOUBLE) + 1.0
        |           - CAST(tie3 AS DOUBLE)
        |             / (CAST(n_a + n_b AS DOUBLE)
        |                * (CAST(n_a + n_b AS DOUBLE) - 1.0))))), 6)
        |  END AS z
        |FROM u""".stripMargin,

    // q267: the q208 observation table split by user parity; at-risk
    // via the same suffix-sum identity, per-death-time contributions
    // micro-rounded before the order-free sum, chi2 one float tree
    "q267_log_rank" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS fe, event_id
        |  FROM events),
        |mx AS (SELECT max(fe) AS max_fe FROM ev),
        |obs AS (
        |  SELECT event_type AS k,
        |    CASE WHEN nxt IS NOT NULL THEN nxt - fe
        |         ELSE max_fe - fe END AS d,
        |    (nxt IS NOT NULL) AS ev_flag,
        |    (user_id % 2 = 0) AS t1
        |  FROM (SELECT user_id, event_type, fe, event_id,
        |          lead(fe) OVER (PARTITION BY user_id, event_type
        |                         ORDER BY fe, event_id) AS nxt
        |        FROM ev), mx),
        |lat AS (
        |  SELECT k, d,
        |    CAST(sum(CASE WHEN t1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
        |    CAST(sum(CASE WHEN NOT t1 THEN 1 ELSE 0 END) AS BIGINT) AS e2,
        |    CAST(sum(CASE WHEN t1 AND ev_flag THEN 1 ELSE 0 END)
        |      AS BIGINT) AS o1,
        |    CAST(sum(CASE WHEN (NOT t1) AND ev_flag THEN 1 ELSE 0 END)
        |      AS BIGINT) AS o2
        |  FROM obs GROUP BY 1, 2),
        |risk AS (
        |  SELECT k, d, e1, e2, o1, o2,
        |    CAST(sum(e1) OVER (PARTITION BY k)
        |      - sum(e1) OVER (PARTITION BY k ORDER BY d
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      + e1 AS BIGINT) AS r1,
        |    CAST(sum(e2) OVER (PARTITION BY k)
        |      - sum(e2) OVER (PARTITION BY k ORDER BY d
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      + e2 AS BIGINT) AS r2
        |  FROM lat),
        |contrib AS (
        |  SELECT k,
        |    CAST(round((CAST(o1 AS DOUBLE)
        |      - CAST(o1 + o2 AS DOUBLE) * r1 / (r1 + r2)) * 1000000.0)
        |      AS BIGINT) AS oe_micro,
        |    CASE WHEN r1 + r2 > 1 THEN
        |      CAST(round(CAST(o1 + o2 AS DOUBLE)
        |        * (CAST(r1 AS DOUBLE) / (r1 + r2))
        |        * (CAST(r2 AS DOUBLE) / (r1 + r2))
        |        * (CAST(r1 + r2 - o1 - o2 AS DOUBLE) / (r1 + r2 - 1))
        |        * 1000000.0) AS BIGINT)
        |    ELSE 0 END AS var_micro
        |  FROM risk WHERE o1 + o2 > 0),
        |census AS (
        |  SELECT k, CAST(sum(e1) AS BIGINT) AS n_a,
        |    CAST(sum(e2) AS BIGINT) AS n_b,
        |    CAST(sum(o1) AS BIGINT) AS deaths_a,
        |    CAST(sum(o2) AS BIGINT) AS deaths_b
        |  FROM lat GROUP BY 1),
        |sums AS (
        |  SELECT k, CAST(sum(oe_micro) AS BIGINT) AS oe_sum_micro,
        |    CAST(sum(var_micro) AS BIGINT) AS var_sum_micro
        |  FROM contrib GROUP BY 1)
        |SELECT c.k AS key, n_a, n_b, deaths_a, deaths_b,
        |  coalesce(oe_sum_micro, 0) AS oe_sum_micro,
        |  coalesce(var_sum_micro, 0) AS var_sum_micro,
        |  CASE WHEN coalesce(var_sum_micro, 0) > 0 THEN
        |    round(CAST(coalesce(oe_sum_micro, 0) AS DOUBLE)
        |      * coalesce(oe_sum_micro, 0) / 1000000.0
        |      / coalesce(var_sum_micro, 0), 6) END AS chi2
        |FROM census c LEFT JOIN sums s ON c.k = s.k""".stripMargin,

    // q268: joint lattice + two marginal midrank lattices, Pearson on
    // doubled ranks from DECIMAL sums, rho the identical float tree
    "q268_spearman" ->
      """WITH r AS (
        |  SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS x,
        |    CAST(extract(hour FROM ts) AS BIGINT) AS y
        |  FROM events),
        |joint AS (
        |  SELECT g, x, y, CAST(count(*) AS BIGINT) AS cnt
        |  FROM r GROUP BY 1, 2, 3),
        |mx AS (
        |  SELECT g, x,
        |    2 * coalesce(CAST(sum(t) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + t + 1 AS r2x
        |  FROM (SELECT g, x, CAST(sum(cnt) AS BIGINT) AS t
        |        FROM joint GROUP BY 1, 2)),
        |my AS (
        |  SELECT g, y,
        |    2 * coalesce(CAST(sum(t) OVER (PARTITION BY g ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + t + 1 AS r2y
        |  FROM (SELECT g, y, CAST(sum(cnt) AS BIGINT) AS t
        |        FROM joint GROUP BY 1, 2)),
        |agg AS (
        |  SELECT j.g AS grp, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    sum(CAST(cnt AS DECIMAL(38,0)) * r2x) AS sx,
        |    sum(CAST(cnt AS DECIMAL(38,0)) * r2y) AS sy,
        |    sum(CAST(cnt AS DECIMAL(38,0)) * r2x * r2y) AS sxy,
        |    sum(CAST(cnt AS DECIMAL(38,0)) * r2x * r2x) AS sxx,
        |    sum(CAST(cnt AS DECIMAL(38,0)) * r2y * r2y) AS syy
        |  FROM joint j
        |  JOIN mx ON j.g = mx.g AND j.x = mx.x
        |  JOIN my ON j.g = my.g AND j.y = my.y
        |  GROUP BY 1)
        |SELECT grp, n_rows,
        |  CASE WHEN n_rows > 1
        |    AND n_rows * sxx - sx * sx > 0
        |    AND n_rows * syy - sy * sy > 0
        |  THEN round(
        |    CAST(n_rows * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n_rows * sxx - sx * sx AS DOUBLE)
        |           * CAST(n_rows * syy - sy * sy AS DOUBLE)), 6)
        |  END AS rho
        |FROM agg""".stripMargin,

    // q269: the q230 hash-chain replay (fold + two avalanche rounds)
    // drives the sign flips; p-values and every BH comparison are
    // exact integer arithmetic — no float anywhere in the oracle
    "q269_perm_fdr" ->
      """WITH units AS (
        |  SELECT event_type AS k, CAST(user_id AS VARCHAR) AS u,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v,
        |    bool_or(user_id % 2 = 0) AS t1
        |  FROM events GROUP BY 1, 2),
        |obs AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(abs(sum(CASE WHEN t1 THEN v ELSE -v END)) AS BIGINT)
        |      AS obs
        |  FROM units GROUP BY 1),
        |ex AS (
        |  SELECT k, u, v, unnest(generate_series(0, 198)) AS r
        |  FROM units),
        |h0 AS (
        |  SELECT k, v, r, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        k || ':' || u || ':' || CAST(r AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM ex),
        |h1 AS (SELECT k, v, r,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT k, v, r,
        |  (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |sg AS (SELECT k, v, r, xor(h, h // 65536) % 2 AS sgn FROM h2),
        |reps AS (
        |  SELECT k, r,
        |    CAST(abs(sum(CASE WHEN sgn = 1 THEN v ELSE -v END))
        |      AS BIGINT) AS stat
        |  FROM sg GROUP BY 1, 2),
        |pvals AS (
        |  SELECT reps.k, n_units, obs,
        |    CAST(sum(CASE WHEN stat >= obs THEN 1 ELSE 0 END) + 1
        |      AS BIGINT) AS p_num
        |  FROM reps JOIN obs ON reps.k = obs.k
        |  GROUP BY 1, 2, 3),
        |bh AS (
        |  SELECT k, n_units, obs, p_num,
        |    CAST(count(*) OVER () AS BIGINT) AS m,
        |    CAST(row_number() OVER (ORDER BY p_num, k) AS BIGINT)
        |      AS bh_rank
        |  FROM pvals),
        |rej AS (
        |  SELECT k, n_units, obs, p_num, bh_rank,
        |    max(CASE WHEN p_num * m <= bh_rank * 10
        |        THEN bh_rank ELSE 0 END) OVER () AS max_rej
        |  FROM bh)
        |SELECT k AS key, n_units, obs AS obs_cents, p_num,
        |  CAST(200 AS BIGINT) AS p_den, bh_rank,
        |  (bh_rank <= max_rej) AS rejected
        |FROM rej""".stripMargin,

    // q270: the q250 BM25 ranking replay + binary pool; every AP term
    // is integer hits*1e6 // rank — no float anywhere
    "q270_retrieval_map" -> q270OracleSql,

    // q271: the full train→score→argmax loop replayed — counts,
    // micro-floored model log-probs, integer score sums, the same
    // (score desc, label asc) argmax
    "q271_naive_bayes" ->
      """WITH ttok AS (
        |  SELECT source AS label,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE doc_id % 2 = 0),
        |counts AS (
        |  SELECT label, term, CAST(count(*) AS BIGINT) AS c
        |  FROM ttok WHERE length(term) > 0 GROUP BY 1, 2),
        |totals AS (
        |  SELECT label, CAST(sum(c) AS BIGINT) AS t_l
        |  FROM counts GROUP BY 1),
        |vocab AS (
        |  SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM counts),
        |ndocs AS (
        |  SELECT source AS label, CAST(count(*) AS BIGINT) AS n_l
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |ntot AS (SELECT CAST(sum(n_l) AS BIGINT) AS n FROM ndocs),
        |tlp AS (
        |  SELECT label, term,
        |    CAST(floor(ln((CAST(c AS DOUBLE) + 1.0)
        |      / (CAST(t_l AS DOUBLE) + v)) * 1000000.0) AS BIGINT) AS lp
        |  FROM counts JOIN totals USING (label) CROSS JOIN vocab),
        |labels AS (
        |  SELECT d.label,
        |    CAST(floor(ln(CAST(n_l AS DOUBLE) / n) * 1000000.0)
        |      AS BIGINT) AS prior,
        |    CAST(floor(ln(1.0 / (CAST(t_l AS DOUBLE) + v)) * 1000000.0)
        |      AS BIGINT) AS dflt
        |  FROM ndocs d JOIN totals USING (label)
        |  CROSS JOIN vocab CROSS JOIN ntot),
        |tf AS (
        |  SELECT id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id AS id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |        FROM documents WHERE doc_id % 2 = 1)
        |  WHERE length(term) > 0 GROUP BY 1, 2),
        |ll AS (
        |  SELECT tf.id, lb.label,
        |    CAST(sum(tf.tf * coalesce(t.lp, lb.dflt)) AS BIGINT)
        |      + max(lb.prior) AS score
        |  FROM tf CROSS JOIN labels lb
        |  LEFT JOIN tlp t ON t.label = lb.label AND t.term = tf.term
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT id, label, score, row_number() OVER (PARTITION BY id
        |    ORDER BY score DESC, label ASC) AS rn
        |  FROM ll)
        |SELECT id AS doc_id, label AS predicted,
        |  CAST(score AS BIGINT) AS score_micro
        |FROM best WHERE rn = 1""".stripMargin,

    // q272: same bins, same prefix sums, the same minimax triple
    // expansion — every block average an exact integer //. The label
    // mod is pmod-equivalent ((x%7+7)%7) to match Spark's pmod even
    // if values ever go negative (DuckDB % keeps the dividend's sign)
    "q272_isotonic" ->
      """WITH r AS (
        |  SELECT CAST(round(value * 2000) AS BIGINT) AS s,
        |    (((CAST(round(value * 100) AS BIGINT) % 7) + 7) % 7) < 3 AS y
        |  FROM events),
        |cells AS (
        |  SELECT greatest(least(s // 20000, 49), 0) AS bin,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM r GROUP BY 1),
        |pref AS (
        |  SELECT bin, n_docs, n_pos,
        |    CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS i,
        |    CAST(sum(n_docs) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cn,
        |    CAST(sum(n_pos) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cp
        |  FROM cells),
        |jk AS (
        |  SELECT a.i AS j, b.i AS k,
        |    CAST((b.cp - (a.cp - a.n_pos)) * 1000000
        |      // (b.cn - (a.cn - a.n_docs)) AS BIGINT) AS avg_micro
        |  FROM pref a JOIN pref b ON a.i <= b.i),
        |mns AS (
        |  SELECT p.i, jk.j, min(avg_micro) AS mn
        |  FROM jk JOIN pref p ON jk.j <= p.i AND p.i <= jk.k
        |  GROUP BY 1, 2),
        |fits AS (
        |  SELECT i, CAST(max(mn) AS BIGINT) AS fit_micro
        |  FROM mns GROUP BY 1)
        |SELECT bin, n_docs, n_pos,
        |  CAST(n_pos * 1000000 // n_docs AS BIGINT) AS rate_micro,
        |  fit_micro
        |FROM pref JOIN fits USING (i)""".stripMargin,

    // q273: the same lattice block identity in DECIMAL, one final //
    "q273_gini" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |wn AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS g, v
        |  FROM pc JOIN customer ON o_custkey = c_custkey),
        |lat AS (
        |  SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM wn GROUP BY 1, 2),
        |wm AS (
        |  SELECT g, v, c,
        |    coalesce(CAST(sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS m
        |  FROM lat),
        |agg AS (
        |  SELECT g AS grp, CAST(sum(c) AS BIGINT) AS n_rows,
        |    sum(CAST(v AS HUGEINT) * c) AS s,
        |    sum(CAST(v AS HUGEINT) * (c * m + c * (c + 1) // 2)) AS s1
        |  FROM wm GROUP BY 1)
        |SELECT grp, n_rows, CAST(s AS BIGINT) AS sum_cents,
        |  CAST(CASE WHEN s > 0 THEN
        |    (2 * s1 - CAST(n_rows + 1 AS HUGEINT) * s) * 1000000
        |    // (CAST(n_rows AS HUGEINT) * s) END AS BIGINT)
        |    AS gini_micro
        |FROM agg""".stripMargin,

    // q274: the literal suffix sort — DuckDB orders the actual token
    // LISTS (shorter-prefix-first, exactly the sentinel order the
    // prefix-doubling ranks encode), takes adjacent full LCPs via a
    // first-difference scan, and re-counts winners by exact slice
    // equality. Algorithm-independent result: the adjacent-LCP set
    // depends only on the sorted content multiset, never on tie order
    "q274_longest_repeats" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |pos AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks)))::BIGINT AS p
        |  FROM docs),
        |suf AS (SELECT doc_id, p - 1 AS pos, toks[p:] AS s FROM pos),
        |ord AS (SELECT doc_id, pos, s,
        |        row_number() OVER (ORDER BY s, doc_id, pos) AS rn FROM suf),
        |adj AS (
        |  SELECT a.rn AS rn, a.s AS sa, b.s AS sb,
        |         least(len(a.s), len(b.s)) AS m
        |  FROM ord a JOIN ord b ON b.rn = a.rn + 1),
        |lcpk AS (
        |  SELECT rn, m, unnest(generate_series(1, m))::BIGINT AS k, sa, sb
        |  FROM adj),
        |lcp AS (
        |  SELECT rn, any_value(sa) AS sa,
        |    CASE WHEN min(CASE WHEN sa[k] <> sb[k] THEN k END) IS NULL
        |         THEN any_value(m)
        |         ELSE min(CASE WHEN sa[k] <> sb[k] THEN k END) - 1 END AS l
        |  FROM lcpk GROUP BY rn),
        |winners AS (
        |  SELECT DISTINCT array_to_string(sa[1:l], ' ') AS repeat_text,
        |         l AS repeat_len
        |  FROM lcp WHERE l >= 12
        |  ORDER BY repeat_len DESC, repeat_text ASC LIMIT 20),
        |occ AS (
        |  SELECT w.repeat_text, w.repeat_len,
        |         CAST(count(*) AS BIGINT) AS n_occurrences,
        |         CAST(count(DISTINCT f.doc_id) AS BIGINT) AS n_docs
        |  FROM winners w JOIN suf f
        |    ON len(f.s) >= w.repeat_len
        |   AND array_to_string(f.s[1:w.repeat_len], ' ') = w.repeat_text
        |  GROUP BY w.repeat_text, w.repeat_len)
        |SELECT repeat_len, n_docs, n_occurrences, repeat_text
        |FROM occ ORDER BY repeat_len DESC, repeat_text ASC""".stripMargin,

    // q308: q307's staging with an order dimension — per-(pair, n,
    // gram) counts, least() clip, order rollup, corpus lengths
    "q308_bleu_components" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS rt
        |  FROM documents),
        |sides AS (
        |  SELECT doc_id, rt,
        |    rt[(CAST(doc_id % 4 AS INT) + 1):] AS ct
        |  FROM docs),
        |orders AS (
        |  SELECT CAST(unnest(generate_series(1, 4)) AS INT) AS n),
        |cgrams AS (
        |  SELECT s.doc_id, o.n,
        |    array_to_string(s.ct[i:i+o.n-1], ' ') AS g
        |  FROM sides s, orders o,
        |    unnest(generate_series(1, len(s.ct) - o.n + 1)) AS u(i)
        |  WHERE NOT (len(s.ct) = 1 AND s.ct[1] = '')),
        |rgrams AS (
        |  SELECT s.doc_id, o.n,
        |    array_to_string(s.rt[i:i+o.n-1], ' ') AS g
        |  FROM sides s, orders o,
        |    unnest(generate_series(1, len(s.rt) - o.n + 1)) AS u(i)
        |  WHERE NOT (len(s.rt) = 1 AND s.rt[1] = '')),
        |cg AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cc
        |  FROM cgrams GROUP BY 1, 2, 3),
        |rg AS (SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS rc
        |  FROM rgrams GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT cg.n, CAST(sum(least(cc, rc)) AS BIGINT) AS n_matches
        |  FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n
        |    AND cg.g = rg.g
        |  GROUP BY 1),
        |ctot AS (
        |  SELECT o.n, CAST(sum(greatest(
        |      (CASE WHEN len(ct) = 1 AND ct[1] = '' THEN 0
        |            ELSE len(ct) END) - o.n + 1, 0)) AS BIGINT)
        |    AS n_cand_ngrams
        |  FROM sides, orders o GROUP BY 1),
        |lens AS (SELECT
        |  CAST(sum(CASE WHEN len(ct) = 1 AND ct[1] = '' THEN 0
        |    ELSE len(ct) END) AS BIGINT) AS cand_tokens,
        |  CAST(sum(CASE WHEN len(rt) = 1 AND rt[1] = '' THEN 0
        |    ELSE len(rt) END) AS BIGINT) AS ref_tokens
        |  FROM sides)
        |SELECT CAST(o.n AS BIGINT) AS n,
        |  coalesce(m.n_matches, 0) AS n_matches,
        |  ctot.n_cand_ngrams, lens.cand_tokens, lens.ref_tokens
        |FROM orders o
        |JOIN ctot ON ctot.n = o.n
        |LEFT JOIN m ON m.n = o.n, lens""".stripMargin,

    // q307: clipped bigram overlap with multiplicity — per-side gram
    // counts, least() clip, the three integer ratios
    // q309: token-level LCS replayed as an anti-diagonal recursive
    // CTE — cell (i,j) completes at iteration i+j from the previous
    // diagonal's left/up rows (age 0) and the once-re-emitted
    // diagonal-before (age 1) for the +1 match step; contributions
    // collapse via max() per cell. Independent of the Spark side's
    // two-row DP but the same recurrence, so the gate is bit-exact
    "q309_rouge_l" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS rt0
        |  FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ct0) = 1 AND ct0[1] = '' THEN []::VARCHAR[]
        |      ELSE ct0 END AS ct,
        |    CASE WHEN len(rt0) = 1 AND rt0[1] = '' THEN []::VARCHAR[]
        |      ELSE rt0 END AS rt
        |  FROM (SELECT doc_id, rt0,
        |          rt0[(CAST(doc_id % 4 AS INT) + 1):] AS ct0
        |        FROM docs)),
        |cells AS (
        |  SELECT doc_id, 0 AS i, 0 AS j, CAST(0 AS BIGINT) AS v,
        |    0 AS age
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, i, j, max(v) AS v, age FROM (
        |    SELECT c.doc_id, c.i AS i, c.j + 1 AS j, c.v AS v, 0 AS age
        |    FROM cells c JOIN base b USING (doc_id)
        |    WHERE c.age = 0 AND c.j + 1 <= len(b.rt)
        |    UNION ALL
        |    SELECT c.doc_id, c.i + 1, c.j, c.v, 0
        |    FROM cells c JOIN base b USING (doc_id)
        |    WHERE c.age = 0 AND c.i + 1 <= len(b.ct)
        |    UNION ALL
        |    SELECT c.doc_id, c.i + 1, c.j + 1, c.v + 1, 0
        |    FROM cells c JOIN base b USING (doc_id)
        |    WHERE c.age = 1 AND c.i + 1 <= len(b.ct)
        |      AND c.j + 1 <= len(b.rt)
        |      AND b.ct[c.i + 1] = b.rt[c.j + 1]
        |    UNION ALL
        |    SELECT c.doc_id, c.i, c.j, c.v, 1
        |    FROM cells c WHERE c.age = 0
        |  ) GROUP BY doc_id, i, j, age),
        |lcs AS (
        |  SELECT c.doc_id, c.v AS n_lcs
        |  FROM cells c JOIN base b USING (doc_id)
        |  WHERE c.age = 0 AND c.i = len(b.ct) AND c.j = len(b.rt))
        |SELECT b.doc_id, l.n_lcs,
        |  CAST(len(b.ct) AS BIGINT) AS n_cand,
        |  CAST(len(b.rt) AS BIGINT) AS n_ref,
        |  CASE WHEN len(b.ct) > 0
        |    THEN l.n_lcs * 1000000 // len(b.ct) ELSE 0 END AS p_micro,
        |  CASE WHEN len(b.rt) > 0
        |    THEN l.n_lcs * 1000000 // len(b.rt) ELSE 0 END AS r_micro,
        |  CASE WHEN len(b.ct) + len(b.rt) > 0
        |    THEN 2 * l.n_lcs * 1000000 // (len(b.ct) + len(b.rt))
        |    ELSE 0 END AS f_micro
        |FROM base b JOIN lcs l USING (doc_id)""".stripMargin,

    "q307_rouge" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS rt
        |  FROM documents),
        |sides AS (
        |  SELECT doc_id, rt,
        |    rt[(CAST(doc_id % 4 AS INT) + 1):] AS ct
        |  FROM docs),
        |cgrams AS (
        |  SELECT doc_id, array_to_string(ct[i:i+1], ' ') AS g
        |  FROM sides, unnest(generate_series(1, len(ct) - 1)) AS u(i)),
        |rgrams AS (
        |  SELECT doc_id, array_to_string(rt[i:i+1], ' ') AS g
        |  FROM sides, unnest(generate_series(1, len(rt) - 1)) AS u(i)),
        |cg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc
        |  FROM cgrams GROUP BY 1, 2),
        |rg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc
        |  FROM rgrams GROUP BY 1, 2),
        |m AS (
        |  SELECT cg.doc_id, CAST(sum(least(cc, rc)) AS BIGINT) AS mm
        |  FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.g = rg.g
        |  GROUP BY 1),
        |tot AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(ct) >= 2 THEN len(ct) - 1 ELSE 0 END
        |      AS BIGINT) AS n_cand,
        |    CAST(CASE WHEN len(rt) >= 2 THEN len(rt) - 1 ELSE 0 END
        |      AS BIGINT) AS n_ref
        |  FROM sides)
        |SELECT t.doc_id, coalesce(m.mm, 0) AS n_matches,
        |  t.n_cand, t.n_ref,
        |  CASE WHEN t.n_cand > 0
        |    THEN coalesce(m.mm, 0) * 1000000 // t.n_cand
        |    ELSE 0 END AS p_micro,
        |  CASE WHEN t.n_ref > 0
        |    THEN coalesce(m.mm, 0) * 1000000 // t.n_ref
        |    ELSE 0 END AS r_micro,
        |  CASE WHEN t.n_cand + t.n_ref > 0
        |    THEN 2 * coalesce(m.mm, 0) * 1000000 // (t.n_cand + t.n_ref)
        |    ELSE 0 END AS f_micro
        |FROM tot t LEFT JOIN m ON t.doc_id = m.doc_id""".stripMargin,

    // q306: the centered window array + both order statistics + the
    // cross-multiplied flag replayed
    "q306_hampel_despike" ->
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
        |FROM mm""".stripMargin,

    // q312: the q306 monolith restricted to the %3 = 1 batch's keys —
    // the incremental path's key-level delta over the full
    // accumulated partials must land exactly here
    "q312_hampel_incremental" ->
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
        |FROM mm
        |WHERE event_type IN (
        |  SELECT DISTINCT event_type FROM events
        |  WHERE event_id % 3 = 1)""".stripMargin,

    // q305: the winnowing selection replayed literally — the q295
    // hash chain per 3-gram, 3 lags/leads per doc, the nested
    // run-length CASEs, the local feasibility test, df cap, pair join
    "q305_winnow_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |eligible AS (SELECT * FROM docs WHERE len(toks) >= 6),
        |grams AS (
        |  SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS mg,
        |    CAST(i AS BIGINT) AS pos,
        |    array_to_string(toks[i+1:i+3], ' ') AS g
        |  FROM eligible, unnest(generate_series(0, len(toks) - 3)) AS u(i)),
        |h0 AS (
        |  SELECT doc_id, mg, pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(g, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS r
        |  FROM grams),
        |h1 AS (SELECT *, (xor(r, r // 65536) * 73244475) % 4294967296
        |  AS v1 FROM h0),
        |h2 AS (SELECT *, (xor(v1, v1 // 65536) * 73244475) % 4294967296
        |  AS v2 FROM h1),
        |hs AS (SELECT doc_id, mg, pos,
        |    xor(v2, v2 // 65536) % 1000000000 AS h FROM h2),
        |laid AS (
        |  SELECT doc_id, mg, pos, h,
        |    lag(h, 1) OVER wd AS lg1, lag(h, 2) OVER wd AS lg2,
        |    lag(h, 3) OVER wd AS lg3,
        |    lead(h, 1) OVER wd AS ld1, lead(h, 2) OVER wd AS ld2,
        |    lead(h, 3) OVER wd AS ld3
        |  FROM hs WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
        |runs AS (
        |  SELECT doc_id, mg, pos, h,
        |    CASE WHEN lg1 IS NOT NULL AND lg1 >= h THEN
        |      CASE WHEN lg2 IS NOT NULL AND lg2 >= h THEN
        |        CASE WHEN lg3 IS NOT NULL AND lg3 >= h THEN 3 ELSE 2 END
        |      ELSE 1 END ELSE 0 END AS lrun,
        |    CASE WHEN ld1 IS NOT NULL AND ld1 > h THEN
        |      CASE WHEN ld2 IS NOT NULL AND ld2 > h THEN
        |        CASE WHEN ld3 IS NOT NULL AND ld3 > h THEN 3 ELSE 2 END
        |      ELSE 1 END ELSE 0 END AS rrun
        |  FROM laid),
        |sel AS (
        |  SELECT DISTINCT doc_id, h AS fpv
        |  FROM runs
        |  WHERE least(lrun, pos) + least(rrun, mg - 1 - pos) >= 3),
        |capped AS (
        |  SELECT doc_id, fpv FROM (
        |    SELECT doc_id, fpv, count(*) OVER (PARTITION BY fpv) AS df
        |    FROM sel) WHERE df <= 64)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(DISTINCT a.fpv) AS BIGINT) AS n_shared
        |FROM capped a JOIN capped b
        |  ON a.fpv = b.fpv AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // q311: the q305 monolithic replay restricted to pairs touching
    // the %3 = 1 batch — the full index (all three slices) feeds the
    // df cap, exactly like the incremental path reading the
    // just-appended SnapshotTable
    "q311_winnow_incremental" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |eligible AS (SELECT * FROM docs WHERE len(toks) >= 6),
        |grams AS (
        |  SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS mg,
        |    CAST(i AS BIGINT) AS pos,
        |    array_to_string(toks[i+1:i+3], ' ') AS g
        |  FROM eligible, unnest(generate_series(0, len(toks) - 3)) AS u(i)),
        |h0 AS (
        |  SELECT doc_id, mg, pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(g, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS r
        |  FROM grams),
        |h1 AS (SELECT *, (xor(r, r // 65536) * 73244475) % 4294967296
        |  AS v1 FROM h0),
        |h2 AS (SELECT *, (xor(v1, v1 // 65536) * 73244475) % 4294967296
        |  AS v2 FROM h1),
        |hs AS (SELECT doc_id, mg, pos,
        |    xor(v2, v2 // 65536) % 1000000000 AS h FROM h2),
        |laid AS (
        |  SELECT doc_id, mg, pos, h,
        |    lag(h, 1) OVER wd AS lg1, lag(h, 2) OVER wd AS lg2,
        |    lag(h, 3) OVER wd AS lg3,
        |    lead(h, 1) OVER wd AS ld1, lead(h, 2) OVER wd AS ld2,
        |    lead(h, 3) OVER wd AS ld3
        |  FROM hs WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
        |runs AS (
        |  SELECT doc_id, mg, pos, h,
        |    CASE WHEN lg1 IS NOT NULL AND lg1 >= h THEN
        |      CASE WHEN lg2 IS NOT NULL AND lg2 >= h THEN
        |        CASE WHEN lg3 IS NOT NULL AND lg3 >= h THEN 3 ELSE 2 END
        |      ELSE 1 END ELSE 0 END AS lrun,
        |    CASE WHEN ld1 IS NOT NULL AND ld1 > h THEN
        |      CASE WHEN ld2 IS NOT NULL AND ld2 > h THEN
        |        CASE WHEN ld3 IS NOT NULL AND ld3 > h THEN 3 ELSE 2 END
        |      ELSE 1 END ELSE 0 END AS rrun
        |  FROM laid),
        |sel AS (
        |  SELECT DISTINCT doc_id, h AS fpv
        |  FROM runs
        |  WHERE least(lrun, pos) + least(rrun, mg - 1 - pos) >= 3),
        |capped AS (
        |  SELECT doc_id, fpv FROM (
        |    SELECT doc_id, fpv, count(*) OVER (PARTITION BY fpv) AS df
        |    FROM sel) WHERE df <= 64)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(DISTINCT a.fpv) AS BIGINT) AS n_shared
        |FROM capped a JOIN capped b
        |  ON a.fpv = b.fpv AND a.doc_id < b.doc_id
        |WHERE a.doc_id % 3 = 1 OR b.doc_id % 3 = 1
        |GROUP BY 1, 2""".stripMargin,

    // q302: the same gram-frequency marking replayed literally — dup
    // 12-gram starts, an 11-PRECEDING window max turning starts into
    // covered tokens, and an ordered FILTER list rebuild per doc
    "q302_exact_substr_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS s,
        |    array_to_string(toks[i+1:i+12], ' ') AS g
        |  FROM docs, unnest(generate_series(0, len(toks) - 12)) AS u(i)),
        |dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |starts AS (
        |  SELECT DISTINCT doc_id, s FROM grams JOIN dupg USING (g)),
        |pos AS (
        |  SELECT doc_id, toks[CAST(p AS INT)] AS tok, p
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks)))::BIGINT AS p
        |        FROM docs)),
        |flag AS (
        |  SELECT p.doc_id, p.p, p.tok,
        |    CASE WHEN st.s IS NOT NULL THEN 1 END AS ds
        |  FROM pos p LEFT JOIN starts st
        |    ON st.doc_id = p.doc_id AND st.s = p.p - 1),
        |cov AS (
        |  SELECT doc_id, p, tok,
        |    max(ds) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS c
        |  FROM flag),
        |reb AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_removed,
        |    coalesce(array_to_string(
        |      list(tok ORDER BY p) FILTER (WHERE c IS NULL), ' '), '')
        |      AS clean_text
        |  FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |  CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed
        |FROM docs d LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // q313: the ANOVA identities over HUGEINT — per-group S_g²·1e4
    // exact integer quotients, SSB/SSW on the q4 lattice, one final
    // integer division for F
    "q313_anova" ->
      """WITH base AS (
        |  SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |per AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(v) AS BIGINT) AS sg
        |  FROM base GROUP BY g),
        |terms AS (
        |  SELECT sum((CAST(sg AS HUGEINT) * sg * 10000) // ng) AS sum_t,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM per),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s,
        |    CAST(sum(v * v) AS BIGINT) AS q
        |  FROM base),
        |core AS (
        |  SELECT n, k,
        |    CAST(greatest(CAST(0 AS HUGEINT),
        |      sum_t - (CAST(s AS HUGEINT) * s * 10000) // n)
        |      AS BIGINT) AS ssb_q4,
        |    CAST(CAST(q AS HUGEINT) * 10000 - sum_t AS BIGINT)
        |      AS ssw_q4
        |  FROM terms, tot)
        |SELECT n AS n_rows, k AS k_groups, ssb_q4, ssw_q4,
        |  k - 1 AS df_between, n - k AS df_within,
        |  CASE WHEN k >= 2 AND n > k AND ssw_q4 > 0 THEN
        |    CAST((CAST(ssb_q4 AS HUGEINT) * (n - k) * 1000000)
        |      // (CAST(ssw_q4 AS HUGEINT) * (k - 1)) AS BIGINT)
        |  END AS f_micro
        |FROM core""".stripMargin,

    // q321: per-group lattice medians (doubled: the two middle order
    // stats summed), then the q313 ANOVA algebra verbatim on the
    // doubled absolute deviations
    "q321_brown_forsythe" ->
      """WITH base0 AS (
        |  SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |lat AS (
        |  SELECT g, v, CAST(count(*) AS BIGINT) AS t
        |  FROM base0 GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, v, t,
        |    CAST(sum(t) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
        |      AS cum,
        |    CAST(sum(t) OVER (PARTITION BY g) AS BIGINT) AS ng
        |  FROM lat),
        |med AS (
        |  SELECT g,
        |    min(CASE WHEN cum >= (ng + 1) // 2 THEN v END)
        |    + min(CASE WHEN cum >= ng // 2 + 1 THEN v END) AS m2
        |  FROM cum GROUP BY g),
        |base AS (
        |  SELECT b.g, abs(2 * b.v - m.m2) AS v
        |  FROM base0 b JOIN med m ON b.g = m.g),
        |per AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(v) AS BIGINT) AS sg
        |  FROM base GROUP BY g),
        |terms AS (
        |  SELECT sum((CAST(sg AS HUGEINT) * sg * 10000) // ng) AS sum_t,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM per),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s,
        |    CAST(sum(v * v) AS BIGINT) AS q
        |  FROM base),
        |core AS (
        |  SELECT n, k,
        |    CAST(greatest(CAST(0 AS HUGEINT),
        |      sum_t - (CAST(s AS HUGEINT) * s * 10000) // n)
        |      AS BIGINT) AS ssb_q4,
        |    CAST(CAST(q AS HUGEINT) * 10000 - sum_t AS BIGINT)
        |      AS ssw_q4
        |  FROM terms, tot)
        |SELECT n AS n_rows, k AS k_groups, ssb_q4, ssw_q4,
        |  k - 1 AS df_between, n - k AS df_within,
        |  CASE WHEN k >= 2 AND n > k AND ssw_q4 > 0 THEN
        |    CAST((CAST(ssb_q4 AS HUGEINT) * (n - k) * 1000000)
        |      // (CAST(ssw_q4 AS HUGEINT) * (k - 1)) AS BIGINT)
        |  END AS w_micro
        |FROM core""".stripMargin,

    // q322: whitespace-stripped char windows per order 1..4, clipped
    // matches, floored per-order micros, order-averaged P/R, chrF2 as
    // one final integer division — all in // arithmetic
    "q322_chrf" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk,
        |    text
        |  FROM documents),
        |pair AS (
        |  SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', '', 'g') AS r,
        |    replace(array_to_string(
        |      tk[CAST(doc_id % 4 + 1 AS INT):], ' '), ' ', '') AS c
        |  FROM t),
        |ord AS (
        |  SELECT doc_id, c, r, CAST(n AS BIGINT) AS n
        |  FROM pair, unnest(generate_series(1, 4)) AS u(n)),
        |cg AS (
        |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cc FROM (
        |    SELECT doc_id, n, unnest([substr(c, CAST(i AS INT), CAST(n AS INT))
        |      for i in generate_series(1, length(c) - n + 1)]) AS g
        |    FROM ord)
        |  GROUP BY 1, 2, 3),
        |rg AS (
        |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS rc FROM (
        |    SELECT doc_id, n, unnest([substr(r, CAST(i AS INT), CAST(n AS INT))
        |      for i in generate_series(1, length(r) - n + 1)]) AS g
        |    FROM ord)
        |  GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT doc_id, n, CAST(sum(least(cc, rc)) AS BIGINT) AS mn
        |  FROM cg JOIN rg USING (doc_id, n, g) GROUP BY 1, 2),
        |tots AS (
        |  SELECT doc_id, n,
        |    greatest(length(c) - n + 1, 0) AS cn,
        |    greatest(length(r) - n + 1, 0) AS rn
        |  FROM ord),
        |per AS (
        |  SELECT t.doc_id,
        |    CASE WHEN cn > 0 THEN coalesce(mn, 0) * 1000000 // cn
        |      ELSE 0 END AS pn,
        |    CASE WHEN rn > 0 THEN coalesce(mn, 0) * 1000000 // rn
        |      ELSE 0 END AS rrn
        |  FROM tots t LEFT JOIN m USING (doc_id, n)),
        |agg AS (
        |  SELECT doc_id, CAST(sum(pn) // 4 AS BIGINT) AS chrp_micro,
        |    CAST(sum(rrn) // 4 AS BIGINT) AS chrr_micro
        |  FROM per GROUP BY 1)
        |SELECT doc_id, chrp_micro, chrr_micro,
        |  CAST(CASE WHEN 4 * chrp_micro + chrr_micro > 0 THEN
        |      5 * chrp_micro * chrr_micro
        |        // (4 * chrp_micro + chrr_micro)
        |    ELSE 0 END AS BIGINT) AS chrf_micro
        |FROM agg""".stripMargin,

    // q323: word trigrams per source, one grouped count + one
    // per-source aggregation
    "q323_distinct_n" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT source, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g
        |  FROM toks, unnest(generate_series(0, len(t) - 3)) AS u(i)
        |  WHERE len(t) >= 3),
        |c AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c
        |      FROM g GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_grams,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS distinct_micro
        |FROM c GROUP BY source""".stripMargin,

    // q324: the q68 add-one bigram scoring replayed TWICE (in-domain
    // slice % 7 = 0, general slice % 7 = 3) and differenced; // and
    // Spark's DIV share truncation-toward-zero on signed values
    "q324_moore_lewis" ->
      """WITH tr_in AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 7 = 0),
        |lm_in AS (
        |  SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c FROM (
        |    SELECT unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |      for i in generate_series(0, len(t)-2)]) AS p
        |    FROM tr_in WHERE len(t) >= 2)
        |  GROUP BY 1, 2),
        |ctx_in AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx
        |           FROM lm_in GROUP BY 1),
        |voc_in AS (SELECT count(DISTINCT tok) AS v
        |           FROM (SELECT unnest(t) AS tok FROM tr_in)),
        |tr_gen AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 7 = 3),
        |lm_gen AS (
        |  SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c FROM (
        |    SELECT unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |      for i in generate_series(0, len(t)-2)]) AS p
        |    FROM tr_gen WHERE len(t) >= 2)
        |  GROUP BY 1, 2),
        |ctx_gen AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx
        |            FROM lm_gen GROUP BY 1),
        |voc_gen AS (SELECT count(DISTINCT tok) AS v
        |            FROM (SELECT unnest(t) AS tok FROM tr_gen)),
        |sc AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |pr AS (
        |  SELECT doc_id, unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |    for i in generate_series(0, len(t)-2)]) AS p
        |  FROM sc WHERE len(t) >= 2),
        |agg_in AS (
        |  SELECT pr.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CAST(floor(1e6 * ln(
        |      CAST(coalesce(lm.c, 0) + 1 AS DOUBLE) /
        |      CAST(coalesce(ctx.c_ctx, 0) + (SELECT v FROM voc_in)
        |        AS DOUBLE))) AS BIGINT)) AS BIGINT) AS ll
        |  FROM pr
        |  LEFT JOIN lm_in lm ON pr.p['w1'] = lm.w1 AND pr.p['w2'] = lm.w2
        |  LEFT JOIN ctx_in ctx ON pr.p['w1'] = ctx.w1
        |  GROUP BY 1),
        |agg_gen AS (
        |  SELECT pr.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CAST(floor(1e6 * ln(
        |      CAST(coalesce(lm.c, 0) + 1 AS DOUBLE) /
        |      CAST(coalesce(ctx.c_ctx, 0) + (SELECT v FROM voc_gen)
        |        AS DOUBLE))) AS BIGINT)) AS BIGINT) AS ll
        |  FROM pr
        |  LEFT JOIN lm_gen lm ON pr.p['w1'] = lm.w1 AND pr.p['w2'] = lm.w2
        |  LEFT JOIN ctx_gen ctx ON pr.p['w1'] = ctx.w1
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(a.ll, 0) AS BIGINT) AS ll_in_scaled,
        |  CAST(coalesce(b.ll, 0) AS BIGINT) AS ll_gen_scaled,
        |  CAST(CASE WHEN coalesce(a.n_bigrams, 0) > 0 THEN
        |      (a.ll - b.ll) // a.n_bigrams
        |    ELSE 0 END AS BIGINT) AS ml_score_scaled
        |FROM documents d
        |LEFT JOIN agg_in a ON d.doc_id = a.doc_id
        |LEFT JOIN agg_gen b ON d.doc_id = b.doc_id""".stripMargin,

    // q329: the q316 rank CTEs + a treatment-order index + the
    // weighted rank sum; E[L2] and the no-tie variance as the same
    // float tree
    "q329_page_trend" ->
      """WITH cells AS (
        |  SELECT user_id % 40 AS b, CAST(event_id % 4 AS BIGINT) AS tr,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)
        |      + (event_id % 4) * 50) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(DISTINCT tr) AS BIGINT) AS k
        |  FROM cells),
        |sized AS (SELECT b, CAST(count(*) AS BIGINT) AS m
        |  FROM cells GROUP BY b),
        |complete AS (
        |  SELECT c.* FROM cells c JOIN sized s ON c.b = s.b, kk
        |  WHERE s.m = kk.k),
        |drp AS (
        |  SELECT CAST(count(*) AS BIGINT) AS d
        |  FROM sized, kk WHERE m <> kk.k),
        |ranked AS (
        |  SELECT b, tr, v,
        |    count(*) OVER (PARTITION BY b ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum,
        |    count(*) OVER (PARTITION BY b, v) AS t
        |  FROM complete),
        |r2s AS (
        |  SELECT b, tr, v, t,
        |    2 * (min(cum) OVER (PARTITION BY b, v) - 1) + t + 1 AS r2
        |  FROM ranked),
        |ord AS (
        |  SELECT tr, CAST(row_number() OVER (ORDER BY tr) AS BIGINT)
        |    AS j
        |  FROM (SELECT DISTINCT tr FROM complete)),
        |pt AS (SELECT tr, CAST(sum(r2) AS BIGINT) AS r2j
        |  FROM r2s GROUP BY tr),
        |l AS (SELECT coalesce(sum(CAST(j AS HUGEINT) * r2j),
        |    CAST(0 AS HUGEINT)) AS l2
        |  FROM pt JOIN ord USING (tr)),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n
        |  FROM complete),
        |t3 AS (SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT)
        |    AS t3
        |  FROM (SELECT DISTINCT b, v, t FROM r2s))
        |SELECT n AS n_blocks, k AS k_treatments, d AS n_blocks_dropped,
        |  t3 AS tie_t3, CAST(l2 AS BIGINT) AS l2,
        |  CAST(CAST(n AS HUGEINT) * k * (k + 1) * (k + 1) // 2
        |    AS BIGINT) AS el2,
        |  CASE WHEN k >= 2 AND n >= 1 THEN
        |    round(((CAST(l2 AS DOUBLE)
        |      - CAST(CAST(CAST(n AS HUGEINT) * k * (k + 1) * (k + 1)
        |          // 2 AS BIGINT) AS DOUBLE)) / 2.0)
        |      / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1) * (k + 1)
        |          * (k - 1) / 144.0), 6)
        |  END AS z
        |FROM l, nb, kk, drp, t3""".stripMargin,

    // q328: pair-tagged lattices, per-pair cumulative window, the
    // doubled-JT sum in HUGEINT, the three-term tie-corrected
    // variance as one float tree
    "q328_jonckheere" ->
      """WITH base AS (
        |  SELECT CAST(user_id % 4 AS BIGINT) AS g,
        |    CAST(round(value * 100) AS BIGINT)
        |      + CAST(user_id % 4 AS BIGINT) * 500 AS v
        |  FROM events),
        |lat AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |        FROM base GROUP BY 1, 2),
        |grp AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng
        |        FROM lat GROUP BY 1),
        |pairs AS (SELECT a.g AS gi, b.g AS gj
        |          FROM grp a, grp b WHERE a.g < b.g),
        |m AS (
        |  SELECT gi, gj, v, CAST(sum(ci) AS BIGINT) AS ci,
        |    CAST(sum(cj) AS BIGINT) AS cj
        |  FROM (
        |    SELECT gi, gj, v, c AS ci, 0 AS cj
        |    FROM lat JOIN pairs ON g = gi
        |    UNION ALL
        |    SELECT gi, gj, v, 0 AS ci, c AS cj
        |    FROM lat JOIN pairs ON g = gj)
        |  GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT gi, gj, v, ci, cj,
        |    CAST(coalesce(sum(ci) OVER (PARTITION BY gi, gj ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum
        |  FROM m),
        |jt AS (SELECT coalesce(sum(CAST(cj AS HUGEINT)
        |    * (2 * cum + ci)), CAST(0 AS HUGEINT)) AS jt2 FROM cum),
        |gs AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS nn,
        |    sum(CAST(ng AS HUGEINT) * ng) AS sum_n2,
        |    sum(CAST(ng AS HUGEINT) * (ng - 1) * (2 * ng + 5)) AS a_n,
        |    sum(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2)) AS b_n,
        |    sum(CAST(ng AS HUGEINT) * (ng - 1)) AS c_n
        |  FROM grp),
        |tt AS (
        |  SELECT
        |    coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)),
        |      CAST(0 AS HUGEINT)) AS a_t,
        |    coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)),
        |      CAST(0 AS HUGEINT)) AS b_t,
        |    coalesce(sum(CAST(t AS HUGEINT) * (t - 1)),
        |      CAST(0 AS HUGEINT)) AS c_t
        |  FROM (SELECT v, CAST(count(*) AS BIGINT) AS t
        |        FROM base GROUP BY 1)),
        |core AS (
        |  SELECT nn, k, CAST(jt2 AS BIGINT) AS jt2,
        |    CAST((CAST(nn AS HUGEINT) * nn - sum_n2) // 2 AS BIGINT)
        |      AS mean2,
        |    (CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5)
        |       - CAST(a_n AS DOUBLE) - CAST(a_t AS DOUBLE)) / 72.0
        |    + CAST(b_n AS DOUBLE) * CAST(b_t AS DOUBLE)
        |      / (36.0 * nn * (nn - 1) * (nn - 2))
        |    + CAST(c_n AS DOUBLE) * CAST(c_t AS DOUBLE)
        |      / (8.0 * nn * (nn - 1)) AS vr
        |  FROM jt, gs, tt)
        |SELECT nn AS n_rows, k AS k_groups, jt2, mean2,
        |  CASE WHEN k >= 2 AND nn >= 3 AND vr > 0 THEN
        |    round(((CAST(jt2 AS DOUBLE) - CAST(mean2 AS DOUBLE)) / 2.0)
        |      / sqrt(vr), 6)
        |  END AS z
        |FROM core""".stripMargin,

    // q330: the Spark side folds two per-version deltas over the
    // persisted embedding index; max-associativity makes the fold
    // exact, so the oracle IS the monolithic q326 replay verbatim
"q330_semantic_decontam_incremental" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT t.vec_id, ev.vec_id AS e_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [t.v[i+1] * ev.v[i+1]
        |       for i in generate_series(0, len(t.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [t.v[i+1] * t.v[i+1]
        |          for i in generate_series(0, len(t.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [ev.v[i+1] * ev.v[i+1]
        |          for i in generate_series(0, len(ev.v)-1)]),
        |         (acc, x) -> acc + x))) AS cos
        |  FROM e t, e ev
        |  WHERE t.vec_id % 10 <> 0 AND ev.vec_id % 10 = 0),
        |best AS (
        |  SELECT vec_id, cos, e_id,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY round(cos, 6) DESC, e_id ASC) AS rn,
        |    max(cos) OVER (PARTITION BY vec_id) AS mx
        |  FROM scored)
        |SELECT vec_id, round(cos, 6) AS max_cosine,
        |  e_id AS nearest_eval_id, mx >= 0.42 AS contaminated
        |FROM best WHERE rn = 1""".stripMargin,

    // q331: the IVF exact face (nProbe=0) scores every (train, eval)
    // pair exactly once — identical pair set, identical per-pair
    // expression, identical fold — so its oracle IS q326's replayed
    // verbatim; bucketing is a physical re-arrangement the relational
    // semantics never see
    "q331_semantic_decontam_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT t.vec_id, ev.vec_id AS e_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [t.v[i+1] * ev.v[i+1]
        |       for i in generate_series(0, len(t.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [t.v[i+1] * t.v[i+1]
        |          for i in generate_series(0, len(t.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [ev.v[i+1] * ev.v[i+1]
        |          for i in generate_series(0, len(ev.v)-1)]),
        |         (acc, x) -> acc + x))) AS cos
        |  FROM e t, e ev
        |  WHERE t.vec_id % 10 <> 0 AND ev.vec_id % 10 = 0),
        |best AS (
        |  SELECT vec_id, cos, e_id,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY round(cos, 6) DESC, e_id ASC) AS rn,
        |    max(cos) OVER (PARTITION BY vec_id) AS mx
        |  FROM scored)
        |SELECT vec_id, round(cos, 6) AS max_cosine,
        |  e_id AS nearest_eval_id, mx >= 0.42 AS contaminated
        |FROM best WHERE rn = 1""".stripMargin,

    // q326: the q25 cosine fold against the eval slice, per-train-doc
    // argmax (max cosine, ties to the LOWEST eval id), threshold on
    // the unrounded value
    "q326_semantic_decontam" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT t.vec_id, ev.vec_id AS e_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [t.v[i+1] * ev.v[i+1]
        |       for i in generate_series(0, len(t.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [t.v[i+1] * t.v[i+1]
        |          for i in generate_series(0, len(t.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [ev.v[i+1] * ev.v[i+1]
        |          for i in generate_series(0, len(ev.v)-1)]),
        |         (acc, x) -> acc + x))) AS cos
        |  FROM e t, e ev
        |  WHERE t.vec_id % 10 <> 0 AND ev.vec_id % 10 = 0),
        |best AS (
        |  SELECT vec_id, cos, e_id,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY round(cos, 6) DESC, e_id ASC) AS rn,
        |    max(cos) OVER (PARTITION BY vec_id) AS mx
        |  FROM scored)
        |SELECT vec_id, round(cos, 6) AS max_cosine,
        |  e_id AS nearest_eval_id, mx >= 0.42 AS contaminated
        |FROM best WHERE rn = 1""".stripMargin,

    // q327: the same staging; per (doc, period) the first mismatch
    // from the end via a list comprehension, repeats = s_p // p + 1,
    // best period by (repeats DESC, period ASC)
    "q327_loop_detect" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 6 = 0 THEN repeat(' loop cycle end', 4)
        |    ELSE '' END AS text
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |      AS BIGINT) AS L
        |  FROM aug),
        |per AS (
        |  SELECT doc_id, L, p,
        |    CASE WHEN L >= 2 * p THEN
        |      (coalesce(list_min([CAST(i AS BIGINT)
        |          for i in generate_series(1, L - p)
        |          if t[CAST(L - i + 1 AS INT)]
        |             <> t[CAST(L - i + 1 - p AS INT)]]) - 1,
        |        L - p) // p) + 1
        |    ELSE 1 END AS r
        |  FROM tk, unnest(generate_series(1, 8)) AS u(p)),
        |best AS (
        |  SELECT doc_id, L, p, r,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY r DESC, p ASC) AS rn
        |  FROM per)
        |SELECT doc_id, L AS n_tokens, CAST(p AS BIGINT) AS best_period,
        |  CAST(r AS BIGINT) AS best_repeats, r >= 3 AS loop_flag
        |FROM best WHERE rn = 1""".stripMargin,

    // q325: the same staging, the same Luhn fold (reverse digits,
    // double odd positions, 9-subtract), the same longest-first
    // redaction (lengths grouped descending, values ascending inside
    // a length — matching Spark's comparator sort)
    "q325_luhn_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' card ' ||
        |      ['4111 1111 1111 1111', '378282246310005',
        |       '5500-0055-5555-5559'][CAST(doc_id % 3 + 1 AS INT)]
        |    ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' bogus 4111111111111112'
        |    ELSE '' END AS text
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(text, '[0-9](?:[ -]?[0-9]){12,18}') AS cs
        |  FROM aug),
        |v AS (
        |  SELECT doc_id, text, cs,
        |    [c for c in cs if list_sum([
        |      CASE WHEN (i - 1) % 2 = 1 THEN
        |        CASE WHEN (ascii(substr(reverse(
        |            replace(replace(c, '-', ''), ' ', '')), i, 1)) - 48)
        |            * 2 > 9
        |          THEN (ascii(substr(reverse(
        |            replace(replace(c, '-', ''), ' ', '')), i, 1)) - 48)
        |            * 2 - 9
        |          ELSE (ascii(substr(reverse(
        |            replace(replace(c, '-', ''), ' ', '')), i, 1)) - 48)
        |            * 2 END
        |      ELSE ascii(substr(reverse(
        |        replace(replace(c, '-', ''), ' ', '')), i, 1)) - 48 END
        |      for i in generate_series(1,
        |        length(replace(replace(c, '-', ''), ' ', '')))]) % 10 = 0]
        |      AS valid
        |  FROM cand),
        |srt AS (
        |  SELECT doc_id, text, cs, valid,
        |    flatten([list_sort([c for c in valid if length(c) = L])
        |      for L in generate_series(23, 13, -1)]) AS ordered
        |  FROM v)
        |SELECT doc_id,
        |  CAST(len(cs) AS BIGINT) AS n_card_candidates,
        |  CAST(len(valid) AS BIGINT) AS n_cards_valid,
        |  list_reduce(list_prepend(text, ordered),
        |    (acc, c) -> regexp_replace(regexp_replace(acc,
        |      '(^|[^0-9])' || c || '([^0-9]|$)', '\1<CARD>\2', 'g'),
        |      '(^|[^0-9])' || c || '([^0-9]|$)', '\1<CARD>\2', 'g'))
        |    AS scrubbed
        |FROM srt""".stripMargin,

    // q318: the q302 rewrite CTEs with eval grams as the mark source
    // (cover window 4 PRECEDING for n = 5), emitted for train docs
    "q318_decontam_scrub" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS s,
        |    array_to_string(toks[i+1:i+5], ' ') AS g
        |  FROM docs, unnest(generate_series(0, len(toks) - 5)) AS u(i)),
        |evg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
        |starts AS (
        |  SELECT DISTINCT doc_id, s FROM grams JOIN evg USING (g)
        |  WHERE doc_id % 10 <> 0),
        |pos AS (
        |  SELECT doc_id, toks[CAST(p AS INT)] AS tok, p
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks)))::BIGINT AS p
        |        FROM docs WHERE doc_id % 10 <> 0)),
        |flag AS (
        |  SELECT p.doc_id, p.p, p.tok,
        |    CASE WHEN st.s IS NOT NULL THEN 1 END AS ds
        |  FROM pos p LEFT JOIN starts st
        |    ON st.doc_id = p.doc_id AND st.s = p.p - 1),
        |cov AS (
        |  SELECT doc_id, p, tok,
        |    max(ds) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS c
        |  FROM flag),
        |reb AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_removed,
        |    coalesce(array_to_string(
        |      list(tok ORDER BY p) FILTER (WHERE c IS NULL), ' '), '')
        |      AS clean_text
        |  FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |  CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed
        |FROM (SELECT doc_id FROM docs WHERE doc_id % 10 <> 0) d
        |LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // q319: the Spark side folds two eval-version deltas probed
    // against the persisted index; the incremental==batch equivalence
    // (each distinct key is fresh in exactly one version, hits count
    // distinct shared keys) means the oracle IS the monolithic q52
    // replay over the union suite (doc_id % 20 ∈ {0,10} == % 10 = 0)
    "q319_decontam_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+5], ' ')
        |     for i in generate_series(0, greatest(len(t)-5, 0))])) AS shingle
        |  FROM toks),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
        |hits AS (
        |  SELECT s.doc_id, count(*) AS n_hits
        |  FROM sh s JOIN ev USING (shingle)
        |  WHERE s.doc_id % 10 <> 0 GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  coalesce(h.n_hits, 0) >= 1 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 10 <> 0""".stripMargin,

    // q320: same equivalence for the span rewrite — an unaffected doc
    // (no gram matching a v2-fresh key) keeps its v1 rewrite, affected
    // docs re-scrub against the FULL key set, so the fold equals the
    // monolithic q318 replay over the union suite
    "q320_decontam_scrub_incremental" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS s,
        |    array_to_string(toks[i+1:i+5], ' ') AS g
        |  FROM docs, unnest(generate_series(0, len(toks) - 5)) AS u(i)),
        |evg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
        |starts AS (
        |  SELECT DISTINCT doc_id, s FROM grams JOIN evg USING (g)
        |  WHERE doc_id % 10 <> 0),
        |pos AS (
        |  SELECT doc_id, toks[CAST(p AS INT)] AS tok, p
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks)))::BIGINT AS p
        |        FROM docs WHERE doc_id % 10 <> 0)),
        |flag AS (
        |  SELECT p.doc_id, p.p, p.tok,
        |    CASE WHEN st.s IS NOT NULL THEN 1 END AS ds
        |  FROM pos p LEFT JOIN starts st
        |    ON st.doc_id = p.doc_id AND st.s = p.p - 1),
        |cov AS (
        |  SELECT doc_id, p, tok,
        |    max(ds) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS c
        |  FROM flag),
        |reb AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_removed,
        |    coalesce(array_to_string(
        |      list(tok ORDER BY p) FILTER (WHERE c IS NULL), ' '), '')
        |      AS clean_text
        |  FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |  CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed
        |FROM (SELECT doc_id FROM docs WHERE doc_id % 10 <> 0) d
        |LEFT JOIN reb r USING (doc_id)""".stripMargin,

    // q315: the whole bloom replayed — the q305 hash chain twice
    // (second seed via the '#b2' suffix, forced odd), double-hashed
    // positions, bit_or words over 62-bit lanes, all-bits membership,
    // then the q52 exact-verify tail on the candidates
    "q315_bloom_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(t[i+1:i+5], ' ')
        |     for i in generate_series(0, greatest(len(t)-5, 0))])) AS shingle
        |  FROM toks),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0),
        |keys AS (
        |  SELECT shingle FROM ev
        |  UNION
        |  SELECT DISTINCT shingle FROM tr),
        |h0 AS (
        |  SELECT shingle,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(shingle, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS r,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(shingle || '#b2', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS r2
        |  FROM keys),
        |m1 AS (SELECT shingle,
        |    (xor(r, r // 65536) * 73244475) % 4294967296 AS a,
        |    (xor(r2, r2 // 65536) * 73244475) % 4294967296 AS b
        |  FROM h0),
        |m2 AS (SELECT shingle,
        |    (xor(a, a // 65536) * 73244475) % 4294967296 AS a,
        |    (xor(b, b // 65536) * 73244475) % 4294967296 AS b
        |  FROM m1),
        |hh AS (SELECT shingle, xor(a, a // 65536) AS h1,
        |    xor(b, b // 65536) * 2 + 1 AS h2
        |  FROM m2),
        |pos AS (
        |  SELECT shingle, (h1 + i * h2) % 262144 AS pos
        |  FROM hh, unnest(generate_series(0, 3)) AS u(i)),
        |bw AS (
        |  SELECT pos // 62 AS word_idx,
        |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INT)) AS bits
        |  FROM pos JOIN ev USING (shingle) GROUP BY 1),
        |hitbits AS (
        |  SELECT p.shingle,
        |    CASE WHEN w.bits IS NOT NULL AND
        |      (w.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 62 AS INT)))
        |        != 0 THEN 1 ELSE 0 END AS hit
        |  FROM pos p
        |  JOIN (SELECT DISTINCT shingle FROM tr) tk USING (shingle)
        |  LEFT JOIN bw w ON w.word_idx = p.pos // 62),
        |bh AS (
        |  SELECT shingle FROM hitbits GROUP BY shingle
        |  HAVING sum(hit) = 4),
        |cand AS (SELECT tr.doc_id, tr.shingle FROM tr
        |  JOIN bh USING (shingle)),
        |co AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
        |  FROM tr GROUP BY 1),
        |cc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates
        |  FROM cand GROUP BY 1),
        |hits AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM cand c JOIN ev USING (shingle) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(co.n_shingles, 0) AS n_shingles,
        |  coalesce(cc.n_candidates, 0) AS n_candidates,
        |  coalesce(hits.n_hits, 0) AS n_hits,
        |  coalesce(hits.n_hits, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
        |LEFT JOIN co USING (doc_id)
        |LEFT JOIN cc USING (doc_id)
        |LEFT JOIN hits USING (doc_id)""".stripMargin,

    // q314: doubled ranks from the value lattice (2c + t + 1 per tie
    // group), per-group quotients and the tie-corrected H in HUGEINT
    "q314_kruskal_wallis" ->
      """WITH base AS (
        |  SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |vals AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS t
        |  FROM base GROUP BY v),
        |ranked AS (
        |  SELECT v, t,
        |    2 * coalesce(sum(t) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + t + 1 AS r2
        |  FROM vals),
        |gv AS (
        |  SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |rg AS (
        |  SELECT g, CAST(sum(c * r2) AS BIGINT) AS r2g,
        |    CAST(sum(c) AS BIGINT) AS ng
        |  FROM gv JOIN ranked USING (v) GROUP BY g),
        |terms AS (
        |  SELECT sum((CAST(r2g AS HUGEINT) * r2g) // ng) AS sum_t,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM rg),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |tie AS (
        |  SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS t3
        |  FROM vals),
        |core AS (
        |  SELECT n, k, t3,
        |    CASE WHEN k >= 2 THEN
        |      CAST(greatest(CAST(0 AS HUGEINT),
        |        (sum_t * 3000000) // (CAST(n AS HUGEINT) * (n + 1))
        |          - CAST(3000000 AS HUGEINT) * (n + 1)) AS BIGINT)
        |    END AS h_micro
        |  FROM terms, tot, tie)
        |SELECT n AS n_rows, k AS k_groups, t3 AS tie_t3, h_micro,
        |  CASE WHEN h_micro IS NOT NULL
        |        AND CAST(n AS HUGEINT) * n * n - n - t3 > 0 THEN
        |    CAST((CAST(h_micro AS HUGEINT)
        |        * (CAST(n AS HUGEINT) * n * n - n))
        |      // (CAST(n AS HUGEINT) * n * n - n - t3) AS BIGINT)
        |  END AS h_adj_micro
        |FROM core""".stripMargin,

    // q316: within-block doubled ranks (min cum over the tie group),
    // complete-block gating, HUGEINT Q and tie-corrected Q*
    "q316_friedman" ->
      """WITH cells AS (
        |  SELECT user_id % 40 AS b, event_type AS tr,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(DISTINCT tr) AS BIGINT) AS k
        |  FROM cells),
        |sized AS (SELECT b, CAST(count(*) AS BIGINT) AS m
        |  FROM cells GROUP BY b),
        |complete AS (
        |  SELECT c.* FROM cells c JOIN sized s ON c.b = s.b, kk
        |  WHERE s.m = kk.k),
        |drp AS (
        |  SELECT CAST(count(*) AS BIGINT) AS d
        |  FROM sized, kk WHERE m <> kk.k),
        |ranked AS (
        |  SELECT b, tr, v,
        |    count(*) OVER (PARTITION BY b ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum,
        |    count(*) OVER (PARTITION BY b, v) AS t
        |  FROM complete),
        |r2s AS (
        |  SELECT b, tr, v, t,
        |    2 * (min(cum) OVER (PARTITION BY b, v) - 1) + t + 1 AS r2
        |  FROM ranked),
        |pt AS (SELECT tr, CAST(sum(r2) AS BIGINT) AS r2j
        |  FROM r2s GROUP BY tr),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n
        |  FROM complete),
        |tie AS (
        |  SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS t3
        |  FROM (SELECT DISTINCT b, v, t FROM r2s)),
        |ss AS (SELECT sum(CAST(r2j AS HUGEINT) * r2j) AS ss FROM pt),
        |core AS (
        |  SELECT nb.n, kk.k, drp.d, tie.t3,
        |    CASE WHEN kk.k >= 2 AND nb.n >= 1 THEN
        |      CAST(greatest(CAST(0 AS HUGEINT),
        |        (ss.ss * 3000000)
        |          // (CAST(4 AS HUGEINT) * nb.n * kk.k * (kk.k + 1))
        |        - CAST(3000000 AS HUGEINT) * nb.n * (kk.k + 1))
        |        AS BIGINT)
        |    END AS q_micro
        |  FROM nb, kk, drp, tie, ss)
        |SELECT n AS n_blocks, k AS k_treatments,
        |  d AS n_blocks_dropped, t3 AS tie_t3, q_micro,
        |  CASE WHEN q_micro IS NOT NULL
        |        AND CAST(n AS HUGEINT) * k * (k * k - 1) - t3 > 0 THEN
        |    CAST((CAST(q_micro AS HUGEINT)
        |        * (CAST(n AS HUGEINT) * k * (k * k - 1)))
        |      // (CAST(n AS HUGEINT) * k * (k * k - 1) - t3)
        |      AS BIGINT)
        |  END AS q_adj_micro
        |FROM core""".stripMargin,

    // q317: column/row totals over complete blocks, one integer ratio
    "q317_cochran_q" ->
      """WITH cells AS (
        |  SELECT user_id % 40 AS b, event_type AS tr,
        |    max(CASE WHEN CAST(round(value * 100) AS BIGINT) % 3 = 0
        |        THEN 1 ELSE 0 END) AS x
        |  FROM events GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(DISTINCT tr) AS BIGINT) AS k
        |  FROM cells),
        |sized AS (SELECT b, CAST(count(*) AS BIGINT) AS m
        |  FROM cells GROUP BY b),
        |complete AS (
        |  SELECT c.* FROM cells c JOIN sized s ON c.b = s.b, kk
        |  WHERE s.m = kk.k),
        |drp AS (
        |  SELECT CAST(count(*) AS BIGINT) AS d
        |  FROM sized, kk WHERE m <> kk.k),
        |ct AS (
        |  SELECT CAST(sum(cj * cj) AS BIGINT) AS sum_cj2,
        |    CAST(sum(cj) AS BIGINT) AS nn
        |  FROM (SELECT tr, CAST(sum(x) AS BIGINT) AS cj
        |        FROM complete GROUP BY tr)),
        |rt AS (
        |  SELECT CAST(coalesce(sum(rb * rb), 0) AS BIGINT) AS sum_rb2,
        |    CAST(count(*) AS BIGINT) AS n_blocks
        |  FROM (SELECT b, CAST(sum(x) AS BIGINT) AS rb
        |        FROM complete GROUP BY b))
        |SELECT rt.n_blocks, kk.k AS k_treatments,
        |  drp.d AS n_blocks_dropped,
        |  coalesce(ct.nn, 0) AS grand_n,
        |  CASE WHEN kk.k >= 2
        |        AND kk.k * coalesce(ct.nn, 0) - rt.sum_rb2 > 0 THEN
        |    ((kk.k - 1) * (kk.k * coalesce(ct.sum_cj2, 0)
        |       - coalesce(ct.nn, 0) * coalesce(ct.nn, 0)) * 1000000)
        |      // (kk.k * coalesce(ct.nn, 0) - rt.sum_rb2)
        |  END AS q_micro
        |FROM ct, rt, kk, drp""".stripMargin,

    // q275: the four paired cells + the integer continuity-corrected
    // chi2; mods are pmod-equivalent ((x%k+k)%k) like q272
    "q275_mcnemar" ->
      """WITH p AS (
        |  SELECT
        |    (((CAST(round(value * 100) AS BIGINT) % 7) + 7) % 7) < 3 AS a,
        |    (((CAST(round(value * 100) AS BIGINT) % 5) + 5) % 5) < 2 AS b
        |  FROM events),
        |cells AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n10
        |  FROM p)
        |SELECT n_pairs, n_both, n01, n10,
        |  CASE WHEN n01 + n10 > 0 THEN
        |    greatest(abs(n01 - n10) - 1, 0) * greatest(abs(n01 - n10) - 1, 0)
        |    * 1000000 // (n01 + n10) END AS chi2_micro,
        |  coalesce(CASE WHEN n01 + n10 > 0 THEN
        |    greatest(abs(n01 - n10) - 1, 0) * greatest(abs(n01 - n10) - 1, 0)
        |    * 1000000 // (n01 + n10) END > 3841459, false) AS significant
        |FROM cells""".stripMargin,

    // q276: the same wedge algebra — degree table, capped centers,
    // micro term, exact BIGINT pair sums, is_edge left join
    "q276_adamic_adar" ->
      """WITH basket AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pairs AS (
        |  SELECT x.p AS a, y.p AS b
        |  FROM basket x JOIN basket y ON x.o = y.o AND x.p < y.p),
        |edges AS (
        |  SELECT a, b FROM pairs GROUP BY a, b HAVING count(*) >= 2),
        |nbrs AS (
        |  SELECT a AS w, b AS n FROM edges
        |  UNION ALL SELECT b AS w, a AS n FROM edges),
        |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS d FROM nbrs GROUP BY w),
        |term AS (
        |  SELECT w, CAST(round(1000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)
        |    AS t_micro
        |  FROM deg WHERE d >= 2 AND d <= 32),
        |capped AS (SELECT n.w, n.n, t.t_micro FROM nbrs n JOIN term t ON n.w = t.w),
        |aa AS (
        |  SELECT x.n AS a, y.n AS b, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(x.t_micro) AS BIGINT) AS aa_micro
        |  FROM capped x JOIN capped y ON x.w = y.w AND x.n < y.n
        |  GROUP BY 1, 2)
        |SELECT aa.a, aa.b, n_common, aa_micro,
        |  coalesce(e.is_edge, false) AS is_edge
        |FROM aa LEFT JOIN (SELECT a, b, true AS is_edge FROM edges) e
        |  ON aa.a = e.a AND aa.b = e.b
        |ORDER BY aa_micro DESC, aa.a, aa.b LIMIT 20""".stripMargin,

    // q277: the portable draw (rolling fold -> two avalanche rounds ->
    // mod 1e6), the exact integer sort key u*1e12 // size, and the
    // per-stratum rank window — replayed verbatim
    "q277_pps_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |h0 AS (
        |  SELECT doc_id, source, n_tokens,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(doc_id AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM d),
        |h1 AS (SELECT *, (xor(h, h // 65536) * 73244475) % 4294967296 AS h1
        |  FROM h0),
        |h2 AS (SELECT *, (xor(h1, h1 // 65536) * 73244475) % 4294967296 AS h2
        |  FROM h1),
        |u AS (SELECT doc_id, source, n_tokens,
        |    xor(h2, h2 // 65536) % 1000000 AS u_micro
        |  FROM h2),
        |keyed AS (
        |  SELECT doc_id, source, n_tokens,
        |    (u_micro * 1000000000000) // n_tokens AS pk
        |  FROM u),
        |rk AS (
        |  SELECT doc_id, source, n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY pk, doc_id) AS r
        |  FROM keyed)
        |SELECT doc_id, source, n_tokens FROM rk WHERE r <= 20""".stripMargin,

    // q278: the unrolled greedy argmax chain (see q278OracleSql)
    "q278_kcenter_select" -> q278OracleSql,

    // q279: the same staged attack (every 20th doc homoglyph-spoofed,
    // chr(8203) = the zero-width space) + the same skeleton pipeline —
    // DuckDB nfc_normalize + RE2 invisibles strip + lower + translate,
    // then the char-fold hash over the skeleton
    "q279_skeleton_dups" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |spoof AS (
        |  SELECT doc_id + 10000000 AS doc_id,
        |    substr(text, 1, 1) || chr(8203) ||
        |      translate(substr(text, 2), 'aeo', 'аео') AS text
        |  FROM base WHERE doc_id % 20 = 0),
        |alldocs AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM spoof),
        |sk AS (
        |  SELECT doc_id, text AS raw,
        |    translate(lower(regexp_replace(nfc_normalize(text),
        |      '[\x{200B}\x{200C}\x{200D}\x{FEFF}\x{00AD}]', '', 'g')),
        |      'аеорсхуіѕјοαν', 'aeopcxyisjoav') AS sk
        |  FROM alldocs),
        |g AS (
        |  SELECT sk, CAST(min(doc_id) AS BIGINT) AS survivor_id,
        |    CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(count(DISTINCT raw) AS BIGINT) AS n_variants
        |  FROM sk GROUP BY sk HAVING count(*) >= 2)
        |SELECT survivor_id, n_members, n_variants,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(regexp_split_to_array(sk, ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS skeleton_hash
        |FROM g""".stripMargin,

    // q280: the chain's centers re-joined against every point (see
    // q280OracleSql)
    "q280_kcenter_assign" -> q280OracleSql,

    // q281: the same staged perturbation, then FILTER-FREE brute force
    // — every pair inside the |Δlen| ≤ k length bound (implied by
    // ed ≤ k, pure pruning) gets a real levenshtein, so the oracle is
    // algorithm-independent and the prefix filter's losslessness is
    // what the gate checks
    "q281_edit_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, lower(substr(trim(text), 1, 40)) AS key
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id + 10000000 AS doc_id,
        |    substr(key, 1, 3) || 'zq' || substr(key, 6) AS key
        |  FROM d WHERE doc_id % 10 = 0),
        |a AS (SELECT * FROM d UNION ALL SELECT * FROM sp),
        |pairs AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    levenshtein(x.key, y.key) AS ed
        |  FROM a x JOIN a y ON x.doc_id < y.doc_id
        |    AND abs(length(x.key) - length(y.key)) <= 2)
        |SELECT id_a, id_b, CAST(ed AS BIGINT) AS ed
        |FROM pairs WHERE ed <= 2""".stripMargin,

    // q282: the same lattice walk replayed relationally — per-user
    // coalition bitmasks, observed-coalition micro rates (unobserved
    // v = 0), recursive-CTE mask lattice + factorial table, floor-div
    // via the pmod identity so negative numerators round identically
    "q282_shapley" ->
      """WITH ch AS (
        |  SELECT event_type AS ch,
        |    row_number() OVER (ORDER BY event_type) - 1 AS bit
        |  FROM (SELECT DISTINCT event_type FROM events
        |        WHERE event_type <> 'purchase')),
        |n AS (SELECT count(*) AS n FROM ch),
        |touched AS (
        |  SELECT DISTINCT e.user_id AS u, ch.bit
        |  FROM events e JOIN ch ON e.event_type = ch.ch),
        |per_user AS (
        |  SELECT t.u, CAST(sum(1 << bit) AS BIGINT) AS mask,
        |    max(CASE WHEN p.u IS NOT NULL THEN 1 ELSE 0 END) AS conv
        |  FROM touched t LEFT JOIN (
        |    SELECT DISTINCT user_id AS u FROM events
        |    WHERE event_type = 'purchase') p ON t.u = p.u
        |  GROUP BY t.u),
        |coal AS (
        |  SELECT mask, CAST(sum(conv) * 1000000 // count(*) AS BIGINT) AS v
        |  FROM per_user GROUP BY mask),
        |masks AS (
        |  SELECT unnest(range(0, (SELECT 1 << n FROM n))) AS mask),
        |lattice AS (
        |  SELECT m.mask, COALESCE(c.v, 0) AS v
        |  FROM masks m LEFT JOIN coal c ON m.mask = c.mask),
        |fact AS (
        |  SELECT i, CAST(COALESCE(list_product(
        |      list_transform(range(1, i + 1), x -> CAST(x AS DOUBLE))),
        |      1) AS BIGINT) AS f
        |  FROM (SELECT unnest(range(0, 13)) AS i)),
        |terms AS (
        |  SELECT ch.ch, fs.f * fn1s.f * (lu.v - l.v) AS t
        |  FROM ch
        |  JOIN lattice l ON (l.mask >> ch.bit) % 2 = 0
        |  JOIN lattice lu ON lu.mask = l.mask + (1 << ch.bit)
        |  JOIN fact fs ON fs.i = bit_count(l.mask)
        |  JOIN fact fn1s ON fn1s.i = (SELECT n FROM n) - 1 - bit_count(l.mask)),
        |nf AS (SELECT f FROM fact WHERE i = (SELECT n FROM n)),
        |agg AS (
        |  SELECT ch AS channel, CAST(sum(t) AS BIGINT) AS shapley_num
        |  FROM terms GROUP BY ch),
        |pcu AS (SELECT ch.ch AS channel, count(*) AS n_users
        |  FROM touched t JOIN ch ON t.bit = ch.bit GROUP BY 1)
        |SELECT a.channel, CAST(p.n_users AS BIGINT) AS n_users,
        |  a.shapley_num,
        |  CAST((a.shapley_num -
        |      ((a.shapley_num % (SELECT f FROM nf)) + (SELECT f FROM nf))
        |        % (SELECT f FROM nf))
        |    // (SELECT f FROM nf) AS BIGINT) AS shapley_micro
        |FROM agg a JOIN pcu p ON a.channel = p.channel""".stripMargin,

    // q283: the q60 hash-split replay + the same exact-rank conformal
    // algebra — per-type train mean, ceil((n+1)(1-alpha)) order
    // statistic by window rank, coverage count on the test split
    "q283_conformal" ->
      """WITH h AS (
        |  SELECT event_type AS g, event_id AS rid,
        |    CAST(round(value * 100) AS BIGINT) AS y,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(event_id || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 1000000 AS hv
        |  FROM events),
        |s AS (
        |  SELECT g, rid, y,
        |    CASE WHEN hv < 400000 THEN 'train'
        |         WHEN hv < 700000 THEN 'calib'
        |         ELSE 'test' END AS split
        |  FROM h),
        |model AS (
        |  SELECT g, CAST(sum(y) // count(*) AS BIGINT) AS mean_cents
        |  FROM s WHERE split = 'train' GROUP BY g),
        |scored AS (
        |  SELECT s.g, s.rid, s.split, abs(s.y - m.mean_cents) AS sc
        |  FROM s JOIN model m ON s.g = m.g WHERE s.split <> 'train'),
        |ncal AS (
        |  SELECT g, count(*) AS n_calib FROM scored
        |  WHERE split = 'calib' GROUP BY g),
        |qh AS (
        |  SELECT g, n_calib, sc AS qhat_cents FROM (
        |    SELECT c.g, n.n_calib, c.sc,
        |      row_number() OVER (PARTITION BY c.g ORDER BY c.sc, c.rid)
        |        AS rn
        |    FROM scored c JOIN ncal n ON c.g = n.g
        |    WHERE c.split = 'calib')
        |  WHERE rn = ((n_calib + 1) * 900000 + 999999) // 1000000)
        |SELECT t.g AS "group", m.mean_cents, q.n_calib, q.qhat_cents,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN t.sc <= q.qhat_cents THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  CAST(sum(CASE WHEN t.sc <= q.qhat_cents THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS coverage_micro
        |FROM scored t
        |JOIN qh q ON t.g = q.g
        |JOIN model m ON t.g = m.g
        |WHERE t.split = 'test'
        |GROUP BY t.g, m.mean_cents, q.n_calib, q.qhat_cents""".stripMargin,

    // q284: the same CDF-difference integral on the merged cents
    // lattice — per-value arm counts, window cumsums, lead() gaps,
    // one cross-scaled numerator summed, remainder-split output
    "q284_wasserstein" ->
      """WITH c AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cb) AS BIGINT) AS n_b
        |  FROM c GROUP BY 1
        |  HAVING sum(ca) > 0 AND sum(cb) > 0),
        |cum AS (
        |  SELECT event_type, v,
        |    sum(ca) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cuma,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cumb,
        |    COALESCE(lead(v) OVER (PARTITION BY event_type ORDER BY v)
        |      - v, 0) AS gap
        |  FROM c),
        |agg AS (
        |  SELECT cum.event_type, t.n_a, t.n_b,
        |    CAST(sum(abs(cuma * t.n_b - cumb * t.n_a) * gap) AS BIGINT)
        |      AS w1_num
        |  FROM cum JOIN tot t ON cum.event_type = t.event_type
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, n_a, n_b, w1_num,
        |  w1_num // (n_a * n_b) AS w1_cents,
        |  (w1_num % (n_a * n_b)) * 1000000 // (n_a * n_b)
        |    AS w1_frac_micro
        |FROM agg""".stripMargin,

    // q285: the definitional NOT EXISTS dominator — algorithm-
    // independent (quadratic, fine at oracle scale; the Spark side is
    // the prefix-scan)
    "q285_skyline" ->
      """WITH s AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT)
        |      // CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS unit_cents,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS total_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT a.l_partkey, a.unit_cents, a.total_qty
        |FROM s a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM s b
        |  WHERE b.unit_cents <= a.unit_cents
        |    AND b.total_qty >= a.total_qty
        |    AND (b.unit_cents < a.unit_cents
        |      OR b.total_qty > a.total_qty))""".stripMargin,

    // q286: the q277 avalanche-draw replay (rolling fold, two mix
    // rounds, final fold, mod 1e6) + the same debiasing algebra
    "q286_randomized_response" ->
      """WITH h0 AS (
        |  SELECT event_type AS g, value > 50.0 AS t,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(event_id AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM events),
        |h1 AS (SELECT *, (xor(h, h // 65536) * 73244475) % 4294967296
        |  AS hv1 FROM h0),
        |h2 AS (SELECT *, (xor(hv1, hv1 // 65536) * 73244475) % 4294967296
        |  AS hv2 FROM h1),
        |u AS (SELECT g, t,
        |    xor(hv2, hv2 // 65536) % 1000000 AS u_micro
        |  FROM h2),
        |rep AS (SELECT g, t, t <> (u_micro < 100000) AS r FROM u),
        |agg AS (
        |  SELECT g AS "group", CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS c_true,
        |    CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_reported
        |  FROM rep GROUP BY 1)
        |SELECT "group", n, c_true, c_reported,
        |  (c_reported * 1000000 - n * 100000) * 1000000 // 800000
        |    AS est_micro,
        |  abs((c_reported * 1000000 - n * 100000) * 1000000 // 800000
        |    - c_true * 1000000) AS err_micro
        |FROM agg""".stripMargin,

    // q287: class table -> conditional aggregates, the l spine
    // replayed per row
    "q287_ldiversity" ->
      """WITH classes AS (
        |  SELECT user_id % 50 AS qi_user, substr(event_type, 1, 1)
        |      AS qi_et,
        |    CAST(count(*) AS BIGINT) AS class_size,
        |    CAST(count(DISTINCT CAST(floor(value / 100) AS BIGINT))
        |      AS BIGINT) AS n_sensitive
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(sum(class_size) AS BIGINT) AS n_rows,
        |    CAST(min(n_sensitive) AS BIGINT) AS min_diversity
        |  FROM classes),
        |ls AS (SELECT unnest([2, 3, 5]) AS l)
        |SELECT CAST(ls.l AS BIGINT) AS l, s.n_classes, s.n_rows,
        |  s.min_diversity,
        |  (SELECT CAST(sum(CASE WHEN c.n_sensitive < ls.l THEN 1
        |     ELSE 0 END) AS BIGINT) FROM classes c) AS classes_below,
        |  (SELECT CAST(sum(CASE WHEN c.n_sensitive < ls.l
        |     THEN c.class_size ELSE 0 END) AS BIGINT) FROM classes c)
        |    AS rows_at_risk,
        |  (SELECT CAST(sum(CASE WHEN c.n_sensitive < ls.l
        |     THEN c.class_size ELSE 0 END) AS BIGINT) FROM classes c)
        |    * 1000000 // s.n_rows AS risk_share_micro,
        |  s.min_diversity >= ls.l AS satisfies_l
        |FROM ls, stats s""".stripMargin,

    // q288: plain window ranks (fine at oracle scale) + the same
    // integer ceil rematch against the global order statistics
    "q288_quantile_normalize" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS src_rank,
        |    count(*) OVER (PARTITION BY source) AS n_source
        |  FROM documents),
        |g AS (
        |  SELECT n_chars AS qnorm,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS grank
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT r.doc_id, r.source, r.n_chars,
        |  CAST(r.src_rank AS BIGINT) AS src_rank,
        |  CAST(r.n_source AS BIGINT) AS n_source, g.qnorm
        |FROM r, n
        |JOIN g ON g.grank =
        |  (r.src_rank * n.n + r.n_source - 1) // r.n_source""".stripMargin,

    // q289: the three iterations unrolled verbatim — edge joins,
    // grouped sums, scalar-max L-inf renormalization each half-step
    "q289_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS s, l_partkey AS d
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |h0 AS (SELECT DISTINCT s, CAST(1000000 AS BIGINT) AS h FROM e),
        |a1r AS (SELECT d, CAST(sum(h) AS BIGINT) AS r
        |  FROM e JOIN h0 USING (s) GROUP BY d),
        |a1 AS (SELECT d, r * 1000000 // (SELECT max(r) FROM a1r) AS a
        |  FROM a1r),
        |h1r AS (SELECT s, CAST(sum(a) AS BIGINT) AS r
        |  FROM e JOIN a1 USING (d) GROUP BY s),
        |h1 AS (SELECT s, r * 1000000 // (SELECT max(r) FROM h1r) AS h
        |  FROM h1r),
        |a2r AS (SELECT d, CAST(sum(h) AS BIGINT) AS r
        |  FROM e JOIN h1 USING (s) GROUP BY d),
        |a2 AS (SELECT d, r * 1000000 // (SELECT max(r) FROM a2r) AS a
        |  FROM a2r),
        |h2r AS (SELECT s, CAST(sum(a) AS BIGINT) AS r
        |  FROM e JOIN a2 USING (d) GROUP BY s),
        |h2 AS (SELECT s, r * 1000000 // (SELECT max(r) FROM h2r) AS h
        |  FROM h2r),
        |a3r AS (SELECT d, CAST(sum(h) AS BIGINT) AS r
        |  FROM e JOIN h2 USING (s) GROUP BY d),
        |a3 AS (SELECT d, r * 1000000 // (SELECT max(r) FROM a3r) AS a
        |  FROM a3r),
        |h3r AS (SELECT s, CAST(sum(a) AS BIGINT) AS r
        |  FROM e JOIN a3 USING (d) GROUP BY s),
        |h3 AS (SELECT s, r * 1000000 // (SELECT max(r) FROM h3r) AS h
        |  FROM h3r)
        |SELECT 'hub' AS kind, s AS v, h AS score_micro FROM h3
        |UNION ALL
        |SELECT 'auth' AS kind, d AS v, a AS score_micro FROM a3""".stripMargin,

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

    // q291: the whole sketch replayed — frequency table, the 80-cell
    // spine, the avalanche sign hash per (key, i, j), signed sums,
    // squared means, the exact rank-3 median
    "q291_ams_f2" ->
      """WITH freq AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS k,
        |    CAST(count(*) AS BIGINT) AS fk
        |  FROM lineitem GROUP BY 1),
        |spine AS (
        |  SELECT i // 16 AS i, i % 16 AS j
        |  FROM (SELECT unnest(range(0, 80)) AS i)),
        |h0 AS (
        |  SELECT f.k, f.fk, s.i, s.j,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        f.k || ':' || s.i || ':' || s.j || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM freq f, spine s),
        |h1 AS (SELECT *, (xor(h, h // 65536) * 73244475) % 4294967296
        |  AS hv1 FROM h0),
        |h2 AS (SELECT *, (xor(hv1, hv1 // 65536) * 73244475) % 4294967296
        |  AS hv2 FROM h1),
        |sgn AS (SELECT k, fk, i, j,
        |    (xor(hv2, hv2 // 65536) % 2) * 2 - 1 AS sg
        |  FROM h2),
        |cells AS (
        |  SELECT i, j, CAST(sum(sg * fk) AS BIGINT) AS s
        |  FROM sgn GROUP BY 1, 2),
        |means AS (
        |  SELECT i, CAST(sum(s * s) AS BIGINT) // 16 AS m
        |  FROM cells GROUP BY 1),
        |med AS (
        |  SELECT m AS f2_est FROM (
        |    SELECT m, row_number() OVER (ORDER BY m) AS rn FROM means)
        |  WHERE rn = 3),
        |exact AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(fk * fk) AS BIGINT) AS f2_exact
        |  FROM freq)
        |SELECT e.n_keys, e.f2_exact, m.f2_est,
        |  abs(m.f2_est - e.f2_exact) * 1000000 // e.f2_exact
        |    AS err_micro
        |FROM exact e, med m""".stripMargin,

    // q292: the three training epochs unrolled — micro features +
    // bias row, margin joins against the previous weight table,
    // misclassified set, per-dim update sums
    "q292_perceptron" ->
      """WITH e AS (
        |  SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |x AS (
        |  SELECT vec_id, y, i - 1 AS d,
        |    CAST(floor(v[i] * 1000000.0) AS BIGINT) AS x
        |  FROM e, (SELECT unnest(generate_series(1,
        |    (SELECT max(len(v)) FROM e))) AS i) g
        |  UNION ALL
        |  SELECT vec_id, y, (SELECT max(len(v)) FROM e) AS d,
        |    CAST(1000000 AS BIGINT) AS x
        |  FROM e),
        |w0 AS (SELECT DISTINCT d, CAST(0 AS BIGINT) AS w FROM x),
        |mg1 AS (SELECT x.vec_id, x.y, CAST(sum(x.x * w.w) AS BIGINT)
        |    AS mg FROM x JOIN w0 w ON x.d = w.d GROUP BY 1, 2),
        |mis1 AS (SELECT vec_id FROM mg1 WHERE y * mg <= 0),
        |w1 AS (SELECT w.d, w.w + COALESCE(dl.dw, 0) AS w FROM w0 w
        |  LEFT JOIN (SELECT x.d, CAST(sum(x.y * x.x) AS BIGINT) AS dw
        |    FROM x JOIN mis1 m ON x.vec_id = m.vec_id GROUP BY 1) dl
        |  ON w.d = dl.d),
        |mg2 AS (SELECT x.vec_id, x.y, CAST(sum(x.x * w.w) AS BIGINT)
        |    AS mg FROM x JOIN w1 w ON x.d = w.d GROUP BY 1, 2),
        |mis2 AS (SELECT vec_id FROM mg2 WHERE y * mg <= 0),
        |w2 AS (SELECT w.d, w.w + COALESCE(dl.dw, 0) AS w FROM w1 w
        |  LEFT JOIN (SELECT x.d, CAST(sum(x.y * x.x) AS BIGINT) AS dw
        |    FROM x JOIN mis2 m ON x.vec_id = m.vec_id GROUP BY 1) dl
        |  ON w.d = dl.d),
        |mg3 AS (SELECT x.vec_id, x.y, CAST(sum(x.x * w.w) AS BIGINT)
        |    AS mg FROM x JOIN w2 w ON x.d = w.d GROUP BY 1, 2),
        |mis3 AS (SELECT vec_id FROM mg3 WHERE y * mg <= 0),
        |w3 AS (SELECT w.d, w.w + COALESCE(dl.dw, 0) AS w FROM w2 w
        |  LEFT JOIN (SELECT x.d, CAST(sum(x.y * x.x) AS BIGINT) AS dw
        |    FROM x JOIN mis3 m ON x.vec_id = m.vec_id GROUP BY 1) dl
        |  ON w.d = dl.d)
        |SELECT 'mis' AS kind, CAST(1 AS BIGINT) AS idx,
        |  (SELECT CAST(count(*) AS BIGINT) FROM mis1) AS val
        |UNION ALL SELECT 'mis', 2, (SELECT count(*) FROM mis2)
        |UNION ALL SELECT 'mis', 3, (SELECT count(*) FROM mis3)
        |UNION ALL SELECT 'w', CAST(d AS BIGINT), CAST(w AS BIGINT)
        |  FROM w3""".stripMargin,

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

    // q299: the avalanche weights replayed per (key, shard), argmax
    // by (w desc, shard) rank, both topologies + the moved census
    "q299_rendezvous" ->
      """WITH keys AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k
        |  FROM documents),
        |spine AS (SELECT unnest(range(0, 9)) AS shard),
        |h0 AS (
        |  SELECT k, shard,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        k || ':' || shard || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM keys, spine),
        |h1 AS (SELECT *, (xor(h, h // 65536) * 73244475) % 4294967296
        |  AS hv1 FROM h0),
        |h2 AS (SELECT *, (xor(hv1, hv1 // 65536) * 73244475) % 4294967296
        |  AS hv2 FROM h1),
        |wt AS (SELECT k, shard,
        |    xor(hv2, hv2 // 65536) % 1000000000 AS w
        |  FROM h2),
        |oldp AS (
        |  SELECT k, shard FROM (
        |    SELECT k, shard, row_number() OVER (PARTITION BY k
        |      ORDER BY w DESC, shard) AS rn
        |    FROM wt WHERE shard < 8) WHERE rn = 1),
        |newp AS (
        |  SELECT k, shard FROM (
        |    SELECT k, shard, row_number() OVER (PARTITION BY k
        |      ORDER BY w DESC, shard) AS rn
        |    FROM wt) WHERE rn = 1)
        |SELECT 'n' AS topology, CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_keys FROM oldp GROUP BY 2
        |UNION ALL
        |SELECT 'n_plus_1', CAST(shard AS BIGINT), count(*)
        |FROM newp GROUP BY 2
        |UNION ALL
        |SELECT 'moved', -1, count(*)
        |FROM oldp o JOIN newp n ON o.k = n.k AND o.shard <> n.shard""".stripMargin,

    // q300: the same floors + top-remainder ranks
    "q300_apportion" ->
      """WITH tok AS (
        |  SELECT source AS g,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |      AS BIGINT) AS weight
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM tok),
        |based AS (
        |  SELECT g, weight, 1000000 * weight // tw AS base,
        |    ((1000000 * weight) % tw + tw) % tw AS rem
        |  FROM tok, tot),
        |short AS (SELECT 1000000 - CAST(sum(base) AS BIGINT) AS l
        |  FROM based),
        |ranked AS (
        |  SELECT g, weight, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, g) AS rk
        |  FROM based)
        |SELECT g AS "group", weight, base,
        |  CASE WHEN rk <= (SELECT l FROM short) THEN 1 ELSE 0 END
        |    AS extra,
        |  base + CASE WHEN rk <= (SELECT l FROM short) THEN 1 ELSE 0 END
        |    AS quota
        |FROM ranked""".stripMargin,

    // q298: the same integer coincidence algebra — S = 2520-scaled
    // within-unit disagreeing pairs, marginal sum of squares, one
    // micro division
    "q298_krippendorff" ->
      """WITH ratings AS (
        |  SELECT user_id AS u,
        |    CAST((CAST(sum(CAST(round(value * 100) AS BIGINT))
        |      AS BIGINT) // count(*)) // 2000 AS VARCHAR) AS c
        |  FROM events GROUP BY user_id, event_type),
        |cnts AS (
        |  SELECT u, c, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ratings GROUP BY 1, 2),
        |units AS (
        |  SELECT u, CAST(sum(cnt) AS BIGINT) AS m,
        |    CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS same
        |  FROM cnts GROUP BY u
        |  HAVING sum(cnt) >= 2),
        |obs AS (
        |  -- error() fires for any m > 10: the counterpart of the
        |  -- Spark side's maxRatings assert_true, so BOTH engines fail
        |  -- loudly on the same input. (The previous 1//(CASE..) guard
        |  -- was SILENT: DuckDB 1.0 returns NULL for 1//0, so m > 10
        |  -- units just dropped out of n — ADVICE r13)
        |  SELECT CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum(CASE WHEN m <= 10 THEN m ELSE
        |        CAST(error('krippendorff: unit exceeds 10 ratings')
        |          AS BIGINT) END)
        |      AS BIGINT) AS n,
        |    CAST(sum(2520 * (m * (m - 1) - same) // (m - 1)) AS BIGINT)
        |      AS off_s
        |  FROM units),
        |marg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_labels,
        |    CAST(sum(n_c * n_c) AS BIGINT) AS sumsq
        |  FROM (SELECT c, CAST(sum(cnt) AS BIGINT) AS n_c
        |        FROM cnts JOIN units USING (u) GROUP BY c))
        |SELECT o.n_units, o.n AS n_ratings, m.n_labels,
        |  CASE WHEN o.n * o.n - m.sumsq > 0
        |    THEN 1000000 - o.off_s * (o.n - 1) * 1000000
        |      // (2520 * (o.n * o.n - m.sumsq)) END AS alpha_micro
        |FROM obs o, marg m""".stripMargin,

    // q297: the melt as a 12-way UNION ALL, same census
    "q297_fd_discovery" ->
      """WITH m AS (
        |  SELECT p.lhs, p.rhs,
        |    CASE p.lhs WHEN 'o_orderkey' THEN CAST(o_orderkey AS VARCHAR)
        |      WHEN 'o_custkey' THEN CAST(o_custkey AS VARCHAR)
        |      WHEN 'o_orderstatus' THEN o_orderstatus
        |      ELSE o_orderpriority END AS lv,
        |    CASE p.rhs WHEN 'o_orderkey' THEN CAST(o_orderkey AS VARCHAR)
        |      WHEN 'o_custkey' THEN CAST(o_custkey AS VARCHAR)
        |      WHEN 'o_orderstatus' THEN o_orderstatus
        |      ELSE o_orderpriority END AS rv
        |  FROM orders, (
        |    SELECT a.c AS lhs, b.c AS rhs
        |    FROM (SELECT unnest(['o_orderkey', 'o_custkey',
        |      'o_orderstatus', 'o_orderpriority']) AS c) a,
        |         (SELECT unnest(['o_orderkey', 'o_custkey',
        |      'o_orderstatus', 'o_orderpriority']) AS c) b
        |    WHERE a.c <> b.c) p),
        |keys AS (
        |  SELECT lhs, rhs, lv, count(DISTINCT rv)
        |    + max(CASE WHEN rv IS NULL THEN 1 ELSE 0 END) AS nd
        |  FROM m GROUP BY 1, 2, 3)
        |SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_viol_keys,
        |  CAST(max(nd) AS BIGINT) AS max_rhs_per_key,
        |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
        |FROM keys GROUP BY 1, 2""".stripMargin,

    // q296: the five greedy steps unrolled — per-step gains over the
    // pair table anti-joined against the growing covered pool,
    // argmax by (gain desc, source)
    "q296_set_cover" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |pe AS (
        |  SELECT DISTINCT source AS s,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS e
        |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)),
        |s1 AS (SELECT s, CAST(count(*) AS BIGINT) AS gain FROM pe
        |  GROUP BY s ORDER BY gain DESC, s LIMIT 1),
        |c1 AS (SELECT DISTINCT e FROM pe WHERE s = (SELECT s FROM s1)),
        |s2 AS (SELECT s, CAST(count(*) AS BIGINT) AS gain FROM pe
        |  WHERE e NOT IN (SELECT e FROM c1)
        |  GROUP BY s ORDER BY gain DESC, s LIMIT 1),
        |c2 AS (SELECT e FROM c1 UNION
        |  SELECT e FROM pe WHERE s = (SELECT s FROM s2)),
        |s3 AS (SELECT s, CAST(count(*) AS BIGINT) AS gain FROM pe
        |  WHERE e NOT IN (SELECT e FROM c2)
        |  GROUP BY s ORDER BY gain DESC, s LIMIT 1),
        |c3 AS (SELECT e FROM c2 UNION
        |  SELECT e FROM pe WHERE s = (SELECT s FROM s3)),
        |s4 AS (SELECT s, CAST(count(*) AS BIGINT) AS gain FROM pe
        |  WHERE e NOT IN (SELECT e FROM c3)
        |  GROUP BY s ORDER BY gain DESC, s LIMIT 1),
        |c4 AS (SELECT e FROM c3 UNION
        |  SELECT e FROM pe WHERE s = (SELECT s FROM s4)),
        |s5 AS (SELECT s, CAST(count(*) AS BIGINT) AS gain FROM pe
        |  WHERE e NOT IN (SELECT e FROM c4)
        |  GROUP BY s ORDER BY gain DESC, s LIMIT 1),
        |c5 AS (SELECT e FROM c4 UNION
        |  SELECT e FROM pe WHERE s = (SELECT s FROM s5))
        |SELECT CAST(1 AS BIGINT) AS step, s AS picked,
        |  gain AS new_elements,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c1) AS covered_total
        |FROM s1
        |UNION ALL SELECT 2, s, gain,
        |  (SELECT count(*) FROM c2) FROM s2
        |UNION ALL SELECT 3, s, gain,
        |  (SELECT count(*) FROM c3) FROM s3
        |UNION ALL SELECT 4, s, gain,
        |  (SELECT count(*) FROM c4) FROM s4
        |UNION ALL SELECT 5, s, gain,
        |  (SELECT count(*) FROM c5) FROM s5""".stripMargin,

    // q295: the hash sample order, consecutive pairing, integer
    // cross-multiplied inlier test and consensus argmax replayed
    "q295_ransac" ->
      """WITH daily AS (
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
        |h1 AS (SELECT *, (xor(h, h // 65536) * 73244475) % 4294967296
        |  AS hv1 FROM h0),
        |h2 AS (SELECT *, (xor(hv1, hv1 // 65536) * 73244475) % 4294967296
        |  AS hv2 FROM h1),
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
        |  FROM summary),
        |terms AS (
        |  SELECT event_type AS et, dur, n_death,
        |    n_death * 1000000 // n_risk AS h_term
        |  FROM risk WHERE n_death > 0),
        |grid AS (
        |  SELECT event_type, horizon_s
        |  FROM (SELECT DISTINCT event_type FROM obs),
        |       (SELECT CAST(unnest([21600, 86400, 259200]) AS BIGINT)
        |          AS horizon_s))
        |SELECT g.event_type, g.horizon_s,
        |  CAST(coalesce(sum(t.h_term), 0) AS BIGINT) AS hazard_micro,
        |  CAST(coalesce(sum(t.n_death), 0) AS BIGINT) AS n_deaths
        |FROM grid g LEFT JOIN terms t
        |  ON t.et = g.event_type AND t.dur <= g.horizon_s
        |GROUP BY 1, 2""".stripMargin,

    // q293: the same LOF algebra over the brute-force pair table —
    // milli lattice, rank-k kdist, tie-inclusive neighbors, integer
    // reach/lrd/lof quantization
    "q293_lof" ->
      """WITH e AS (
        |  SELECT vec_id AS id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      v -> CAST(floor(v * 1000.0) AS BIGINT)) AS vm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.id AS p, b.id AS o,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(a.vm) + 1),
        |        i -> (a.vm[i] - b.vm[i]) * (a.vm[i] - b.vm[i]))),
        |      (acc, x) -> acc + x) AS d2
        |  FROM e a JOIN e b ON a.id <> b.id),
        |kd AS (
        |  SELECT p, d2 AS kdist_sq FROM (
        |    SELECT p, d2, row_number() OVER (PARTITION BY p
        |      ORDER BY d2, o) AS rn FROM pairs)
        |  WHERE rn = 5),
        |nb AS (
        |  SELECT pr.p, pr.o, pr.d2, kd.kdist_sq
        |  FROM pairs pr JOIN kd ON pr.p = kd.p
        |  WHERE pr.d2 <= kd.kdist_sq),
        |reach AS (
        |  SELECT nb.p, nb.o, nb.kdist_sq,
        |    greatest(ko.kdist_sq, nb.d2) AS rd
        |  FROM nb JOIN kd ko ON nb.o = ko.p),
        |lrd AS (
        |  SELECT p, kdist_sq, CAST(count(*) AS BIGINT) AS n_nb,
        |    CAST(count(*) AS BIGINT) * 1000000000000
        |      // CAST(sum(rd) AS BIGINT) AS lrd_q
        |  FROM reach WHERE 1 = 1 GROUP BY 1, 2
        |  HAVING sum(rd) > 0)
        |SELECT nb.p AS id, l.kdist_sq, l.n_nb AS n_neighbors, l.lrd_q,
        |  CAST(sum(lo.lrd_q) AS BIGINT) * 1000000
        |    // (l.n_nb * l.lrd_q) AS lof_micro
        |FROM nb
        |JOIN lrd lo ON nb.o = lo.p
        |JOIN lrd l ON nb.p = l.p
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // q303: q293's algebra restricted to the probed-bucket candidate
    // relation — integer centroid assignment, nProbe=2 probe list,
    // home-bucket membership, then the identical kdist/reach/lrd/lof
    // chain
    "q303_lof_bucketed" ->
      """WITH e AS (
        |  SELECT vec_id AS id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      v -> CAST(floor(v * 1000.0) AS BIGINT)) AS vm
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id AS cid,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      v -> CAST(floor(v * 1000.0) AS BIGINT)) AS cm
        |  FROM embeddings WHERE vec_id % 97 = 3),
        |dc AS (
        |  SELECT e.id, c.cid,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(e.vm) + 1),
        |        i -> (e.vm[i] - c.cm[i]) * (e.vm[i] - c.cm[i]))),
        |      (acc, x) -> acc + x) AS d
        |  FROM e, c),
        |ranked AS (
        |  SELECT id, cid,
        |    row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rnk
        |  FROM dc),
        |home AS (SELECT id AS o, cid AS bucket FROM ranked WHERE rnk = 1),
        |probes AS (SELECT id AS p, cid AS bucket FROM ranked
        |  WHERE rnk <= 2),
        |pairs AS (
        |  SELECT pr.p, h.o,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(a.vm) + 1),
        |        i -> (a.vm[i] - b.vm[i]) * (a.vm[i] - b.vm[i]))),
        |      (acc, x) -> acc + x) AS d2
        |  FROM probes pr JOIN home h USING (bucket)
        |  JOIN e a ON a.id = pr.p JOIN e b ON b.id = h.o
        |  WHERE pr.p <> h.o),
        |kd AS (
        |  SELECT p, d2 AS kdist_sq FROM (
        |    SELECT p, d2, row_number() OVER (PARTITION BY p
        |      ORDER BY d2, o) AS rn FROM pairs)
        |  WHERE rn = 5),
        |nb AS (
        |  SELECT pr.p, pr.o, pr.d2, kd.kdist_sq
        |  FROM pairs pr JOIN kd ON pr.p = kd.p
        |  WHERE pr.d2 <= kd.kdist_sq),
        |reach AS (
        |  SELECT nb.p, nb.o, nb.kdist_sq,
        |    greatest(ko.kdist_sq, nb.d2) AS rd
        |  FROM nb JOIN kd ko ON nb.o = ko.p),
        |lrd AS (
        |  SELECT p, kdist_sq, CAST(count(*) AS BIGINT) AS n_nb,
        |    CAST(count(*) AS BIGINT) * 1000000000000
        |      // CAST(sum(rd) AS BIGINT) AS lrd_q
        |  FROM reach GROUP BY 1, 2
        |  HAVING sum(rd) > 0)
        |SELECT nb.p AS id, h.bucket, l.kdist_sq, l.n_nb AS n_neighbors,
        |  l.lrd_q,
        |  CAST(sum(lo.lrd_q) AS BIGINT) * 1000000
        |    // (l.n_nb * l.lrd_q) AS lof_micro
        |FROM nb
        |JOIN lrd lo ON nb.o = lo.p
        |JOIN lrd l ON nb.p = l.p
        |JOIN home h ON h.o = nb.p
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    // q304: the two-stage argmin replayed — fine-centroid parents,
    // per-point wProbe coarse ranks, candidate fine argmin with
    // (d2, cid) ties
    "q304_hier_assign" ->
      """WITH e AS (
        |  SELECT vec_id AS id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      v -> CAST(floor(v * 1000.0) AS BIGINT)) AS vm
        |  FROM embeddings),
        |f AS (SELECT id AS cid, vm AS cm FROM e WHERE id % 97 = 3),
        |c AS (SELECT id AS cid, vm AS cm FROM e WHERE id % 388 = 3),
        |fc AS (
        |  SELECT f.cid AS fine_cid, c.cid AS coarse_cid,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(f.cm) + 1),
        |        i -> (f.cm[i] - c.cm[i]) * (f.cm[i] - c.cm[i]))),
        |      (acc, x) -> acc + x) AS d
        |  FROM f, c),
        |parents AS (
        |  SELECT fine_cid, coarse_cid AS parent FROM (
        |    SELECT fine_cid, coarse_cid, row_number() OVER (
        |      PARTITION BY fine_cid ORDER BY d, coarse_cid) AS rn
        |    FROM fc) WHERE rn = 1),
        |pc AS (
        |  SELECT e.id, c.cid,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(e.vm) + 1),
        |        i -> (e.vm[i] - c.cm[i]) * (e.vm[i] - c.cm[i]))),
        |      (acc, x) -> acc + x) AS d
        |  FROM e, c),
        |probed AS (
        |  SELECT id, cid AS parent FROM (
        |    SELECT id, cid, row_number() OVER (
        |      PARTITION BY id ORDER BY d, cid) AS rn
        |    FROM pc) WHERE rn <= 2),
        |cand AS (
        |  SELECT p.id, pa.fine_cid,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(e.vm) + 1),
        |        i -> (e.vm[i] - f.cm[i]) * (e.vm[i] - f.cm[i]))),
        |      (acc, x) -> acc + x) AS d2
        |  FROM probed p
        |  JOIN parents pa ON pa.parent = p.parent
        |  JOIN e ON e.id = p.id
        |  JOIN f ON f.cid = pa.fine_cid)
        |SELECT id, fine_cid AS bucket, d2 FROM (
        |  SELECT id, fine_cid, d2, row_number() OVER (
        |    PARTITION BY id ORDER BY d2, fine_cid) AS rn
        |  FROM cand) WHERE rn = 1""".stripMargin,

    // q310: q304's two-stage probe CTEs (probes rnk <= 2, home
    // rnk = 1) feeding q303's LOF tail verbatim
    "q310_lof_two_level" ->
      """WITH e AS (
        |  SELECT vec_id AS id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      v -> CAST(floor(v * 1000.0) AS BIGINT)) AS vm
        |  FROM embeddings),
        |f AS (SELECT id AS cid, vm AS cm FROM e WHERE id % 97 = 3),
        |c AS (SELECT id AS cid, vm AS cm FROM e WHERE id % 388 = 3),
        |fc AS (
        |  SELECT f.cid AS fine_cid, c.cid AS coarse_cid,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(f.cm) + 1),
        |        i -> (f.cm[i] - c.cm[i]) * (f.cm[i] - c.cm[i]))),
        |      (acc, x) -> acc + x) AS d
        |  FROM f, c),
        |parents AS (
        |  SELECT fine_cid, coarse_cid AS parent FROM (
        |    SELECT fine_cid, coarse_cid, row_number() OVER (
        |      PARTITION BY fine_cid ORDER BY d, coarse_cid) AS rn
        |    FROM fc) WHERE rn = 1),
        |pc AS (
        |  SELECT e.id, c.cid,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(e.vm) + 1),
        |        i -> (e.vm[i] - c.cm[i]) * (e.vm[i] - c.cm[i]))),
        |      (acc, x) -> acc + x) AS d
        |  FROM e, c),
        |probedc AS (
        |  SELECT id, cid AS parent FROM (
        |    SELECT id, cid, row_number() OVER (
        |      PARTITION BY id ORDER BY d, cid) AS rn
        |    FROM pc) WHERE rn <= 2),
        |cand AS (
        |  SELECT p.id, pa.fine_cid,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(e.vm) + 1),
        |        i -> (e.vm[i] - f.cm[i]) * (e.vm[i] - f.cm[i]))),
        |      (acc, x) -> acc + x) AS d2
        |  FROM probedc p
        |  JOIN parents pa ON pa.parent = p.parent
        |  JOIN e ON e.id = p.id
        |  JOIN f ON f.cid = pa.fine_cid),
        |ranked AS (
        |  SELECT id, fine_cid AS cid, row_number() OVER (
        |    PARTITION BY id ORDER BY d2, fine_cid) AS rnk
        |  FROM cand),
        |home AS (SELECT id AS o, cid AS bucket FROM ranked WHERE rnk = 1),
        |probes AS (SELECT id AS p, cid AS bucket FROM ranked
        |  WHERE rnk <= 2),
        |pairs AS (
        |  SELECT pr.p, h.o,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(a.vm) + 1),
        |        i -> (a.vm[i] - b.vm[i]) * (a.vm[i] - b.vm[i]))),
        |      (acc, x) -> acc + x) AS d2
        |  FROM probes pr JOIN home h USING (bucket)
        |  JOIN e a ON a.id = pr.p JOIN e b ON b.id = h.o
        |  WHERE pr.p <> h.o),
        |kd AS (
        |  SELECT p, d2 AS kdist_sq FROM (
        |    SELECT p, d2, row_number() OVER (PARTITION BY p
        |      ORDER BY d2, o) AS rn FROM pairs)
        |  WHERE rn = 5),
        |nb AS (
        |  SELECT pr.p, pr.o, pr.d2, kd.kdist_sq
        |  FROM pairs pr JOIN kd ON pr.p = kd.p
        |  WHERE pr.d2 <= kd.kdist_sq),
        |reach AS (
        |  SELECT nb.p, nb.o, nb.kdist_sq,
        |    greatest(ko.kdist_sq, nb.d2) AS rd
        |  FROM nb JOIN kd ko ON nb.o = ko.p),
        |lrd AS (
        |  SELECT p, kdist_sq, CAST(count(*) AS BIGINT) AS n_nb,
        |    CAST(count(*) AS BIGINT) * 1000000000000
        |      // CAST(sum(rd) AS BIGINT) AS lrd_q
        |  FROM reach GROUP BY 1, 2
        |  HAVING sum(rd) > 0)
        |SELECT nb.p AS id, h.bucket, l.kdist_sq, l.n_nb AS n_neighbors,
        |  l.lrd_q,
        |  CAST(sum(lo.lrd_q) AS BIGINT) * 1000000
        |    // (l.n_nb * l.lrd_q) AS lof_micro
        |FROM nb
        |JOIN lrd lo ON nb.o = lo.p
        |JOIN lrd l ON nb.p = l.p
        |JOIN home h ON h.o = nb.p
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    // q246: census algebra from the grouped counts alone
    "q246_oversample_balance" ->
      """WITH c AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings GROUP BY 1),
        |m AS (SELECT max(n) AS mx FROM c)
        |SELECT label, n * ((mx + n - 1) // n) AS n_balanced,
        |  n AS n_originals, ((mx + n - 1) // n) - 1 AS max_copy
        |FROM c CROSS JOIN m""".stripMargin,

    // q247: the hash chain + per-label rank + round-robin modulo
    "q247_stratified_folds" ->
      """WITH h0 AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(vec_id AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM embeddings),
        |h1 AS (SELECT vec_id, label, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT vec_id, label, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |h3 AS (SELECT vec_id, label, xor(h, h // 65536) AS h FROM h2),
        |folded AS (
        |  SELECT label, vec_id,
        |    (row_number() OVER (PARTITION BY label ORDER BY h, vec_id) - 1)
        |      % 5 AS fold
        |  FROM h3)
        |SELECT label, CAST(fold AS BIGINT) AS fold,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(vec_id) AS BIGINT) AS min_id
        |FROM folded GROUP BY 1, 2""".stripMargin,

    // q245: the complement — fails if the delete missed a row or a
    // rewrite duplicated one
    "q245_forget_user" ->
      """SELECT event_id, user_id, CAST(ts AS DATE) AS d, event_type,
        |  round(value, 2) AS value
        |FROM events WHERE user_id <> 42""".stripMargin,

    // q244: the same rank identity over the distinct-value lattice
    "q244_equi_depth_hist" ->
      """WITH byv AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM byv),
        |cum AS (
        |  SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM byv),
        |spine AS (SELECT unnest(generate_series(1, 8)) AS bucket),
        |bounds AS (
        |  SELECT s.bucket, min(c.v) AS hi
        |  FROM spine s, cum c CROSS JOIN n
        |  WHERE c.cum * 8 >= s.bucket * n.n
        |  GROUP BY 1),
        |lo AS (
        |  SELECT bucket, hi,
        |    lag(hi) OVER (ORDER BY bucket) AS lo
        |  FROM bounds)
        |SELECT l.bucket, l.lo, l.hi,
        |  CAST(c.cum - coalesce(lag(c.cum) OVER (ORDER BY l.bucket), 0)
        |    AS BIGINT) AS n_rows,
        |  n.n AS n_total
        |FROM lo l JOIN cum c ON l.hi = c.v CROSS JOIN n""".stripMargin,

    // q243: the same integer-count cosine, link union, order-free
    // micro-sum scoring and anti-join ownership filter
    "q243_item_item_recs" ->
      """WITH ui AS (
        |  SELECT DISTINCT o_custkey AS u, l_partkey AS it
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cnt AS (SELECT it, CAST(count(*) AS BIGINT) AS n FROM ui GROUP BY 1),
        |pr AS (
        |  SELECT x.it AS item_a, y.it AS item_b,
        |    CAST(count(*) AS BIGINT) AS common
        |  FROM ui x JOIN ui y ON x.u = y.u AND x.it < y.it
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sims AS (
        |  SELECT item_a, item_b,
        |    CAST(round(CAST(common AS DOUBLE)
        |      / (sqrt(CAST(ca.n AS DOUBLE)) * sqrt(CAST(cb.n AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) AS sim_micro
        |  FROM pr JOIN cnt ca ON pr.item_a = ca.it
        |  JOIN cnt cb ON pr.item_b = cb.it),
        |links AS (
        |  SELECT item_a AS it, item_b AS cand, sim_micro FROM sims
        |  UNION ALL
        |  SELECT item_b, item_a, sim_micro FROM sims),
        |panel AS (SELECT unnest(generate_series(1, 10)) * 37 AS u),
        |owned AS (
        |  SELECT ui.u, ui.it FROM ui JOIN panel ON ui.u = panel.u),
        |scored AS (
        |  SELECT o.u, l.cand, CAST(sum(l.sim_micro) AS BIGINT)
        |      AS score_micro,
        |    CAST(count(*) AS BIGINT) AS n_links
        |  FROM owned o JOIN links l ON o.it = l.it
        |  GROUP BY 1, 2),
        |unseen AS (
        |  SELECT s.* FROM scored s
        |  LEFT JOIN owned o ON s.u = o.u AND s.cand = o.it
        |  WHERE o.it IS NULL)
        |SELECT u AS cust, CAST(rank AS BIGINT) AS rank, cand AS part,
        |  score_micro, n_links
        |FROM (SELECT *, row_number() OVER (PARTITION BY u
        |        ORDER BY score_micro DESC, cand) AS rank FROM unseen)
        |WHERE rank <= 5""".stripMargin,

    // q241: positions via bounded series enumeration, windows via
    // list_slice with the same clamp arithmetic
    "q241_context_windows" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |hits AS (
        |  SELECT doc_id, t, g.i AS pos
        |  FROM d, (SELECT unnest(generate_series(1,
        |    (SELECT max(len(t)) FROM d))) AS i) g
        |  WHERE g.i <= len(t) AND t[g.i] = 'customer')
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  array_to_string(list_slice(t,
        |    greatest(pos - 3, 1), least(pos + 3, len(t))), ' ') AS window
        |FROM hits""".stripMargin,

    // q242: the q207 edge builder + the same draw chain (rolling fold
    // → q206 avalanche → rank map), anti join, first-k-in-draw-order
    "q242_negative_edges" ->
      """WITH basket AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pairs AS (
        |  SELECT b1.p AS a, b2.p AS b FROM basket b1
        |  JOIN basket b2 ON b1.o = b2.o AND b1.p < b2.p),
        |e AS (SELECT a, b FROM pairs GROUP BY a, b HAVING count(*) >= 2),
        |verts AS (
        |  SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS vrank
        |  FROM (SELECT a AS v FROM e UNION SELECT b FROM e)),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_v FROM verts),
        |draws AS (
        |  SELECT a, b, i.range AS i FROM e, range(8) i),
        |h0 AS (
        |  SELECT a, b, i, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR) || ':' ||
        |        CAST(i AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM draws),
        |h1 AS (SELECT a, b, i, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT a, b, i, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |h3 AS (SELECT a, b, i, xor(h, h // 65536) AS h FROM h2),
        |cand AS (
        |  SELECT d.a, d.b, d.i, v.v
        |  FROM h3 d CROSS JOIN nv
        |  JOIN verts v ON (d.h % nv.n_v) + 1 = v.vrank
        |  WHERE v.v <> d.a AND v.v <> d.b),
        |ne AS (
        |  SELECT c.a, c.b, c.i, c.v,
        |    least(c.a, c.v) AS na, greatest(c.a, c.v) AS nb
        |  FROM cand c),
        |surv AS (
        |  SELECT ne.a, ne.b, ne.i, ne.v FROM ne
        |  LEFT JOIN e ON ne.na = e.a AND ne.nb = e.b
        |  WHERE e.a IS NULL),
        |ranked AS (
        |  SELECT a, b, CAST(i AS BIGINT) AS i, v,
        |    row_number() OVER (PARTITION BY a, b ORDER BY i) AS rk
        |  FROM surv)
        |SELECT a, b, i, v AS neg FROM ranked WHERE rk <= 2""".stripMargin,

    // q240: q137's stage replay aggregated over the dense step spine
    "q240_funnel_report" ->
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
        |  WHERE et = 'purchase' GROUP BY 1),
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

    // q239: the q206 register chain per column over a stacked union;
    // exact NDV beside
    "q239_analyze_stats" ->
      """WITH stacked AS (
        |  SELECT 'o_orderkey' AS cname, CAST(o_orderkey AS VARCHAR) AS sval FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'o_date', CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders),
        |basics AS (
        |  SELECT cname, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN sval IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_nulls,
        |    CAST(count(DISTINCT sval) AS BIGINT) AS ndv_exact
        |  FROM stacked GROUP BY 1),
        |h0 AS (
        |  SELECT cname, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(sval, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM stacked WHERE sval IS NOT NULL),
        |h1 AS (SELECT cname, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT cname, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |h3 AS (SELECT cname, xor(h, h // 65536) AS h FROM h2),
        |reg AS (
        |  SELECT cname, h % 128 AS bucket,
        |    max(CASE WHEN (h // 128) % 8388608 > 0
        |        THEN 24 - length(bin((h // 128) % 8388608))
        |        ELSE 24 END) AS rho
        |  FROM h3 GROUP BY 1, 2),
        |est AS (
        |  SELECT cname, CAST(count(*) AS BIGINT) AS active_buckets,
        |    sum(1.0 / CAST(1 << rho AS DOUBLE)) + (128 - count(*)) AS z,
        |    128 - count(*) AS v
        |  FROM reg GROUP BY 1),
        |hll AS (
        |  SELECT cname,
        |    round(CASE WHEN (CAST(0.7213 AS DOUBLE) /
        |        (1 + CAST(1.079 AS DOUBLE) / 128)) * 16384 / z <= 320 AND v > 0
        |      THEN 128 * ln(128.0 / v)
        |      ELSE (CAST(0.7213 AS DOUBLE) /
        |        (1 + CAST(1.079 AS DOUBLE) / 128)) * 16384 / z END, 4)
        |      AS ndv_est
        |  FROM est)
        |SELECT b.cname AS "column", b.n_rows, b.n_nulls,
        |  coalesce(h.ndv_est, 0.0) AS ndv_est, b.ndv_exact
        |FROM basics b LEFT JOIN hll h ON b.cname = h.cname""".stripMargin,

    // q238: the q237 history replay joined point-in-time; events of
    // users above the customer key space fall out as NULL segment
    "q238_scd2_enrich" ->
      """WITH b1 AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |    DATE '2024-01-01' AS eff FROM customer),
        |b2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'MIGRATED'
        |         ELSE c_mktsegment END AS seg,
        |    DATE '2024-01-16' AS eff FROM customer),
        |allb AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
        |dedup AS (
        |  SELECT *, lag(seg) OVER (PARTITION BY c_custkey ORDER BY eff)
        |    AS prev
        |  FROM allb),
        |vers AS (
        |  SELECT c_custkey, seg, eff AS valid_from FROM dedup
        |  WHERE prev IS NULL OR seg <> prev),
        |dim AS (
        |  SELECT c_custkey, seg, valid_from,
        |    lead(valid_from) OVER (PARTITION BY c_custkey
        |      ORDER BY valid_from) AS valid_to
        |  FROM vers),
        |ev AS (
        |  SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT d2.seg, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM ev e LEFT JOIN dim d2 ON e.user_id = d2.c_custkey
        |  AND d2.valid_from <= e.d
        |  AND (d2.valid_to IS NULL OR e.d < d2.valid_to)
        |GROUP BY 1""".stripMargin,

    // q237: the batch union lag-deduped per key (consecutive equal
    // snapshots spawn no version), valid_to = the next version's
    // valid_from via lead
    "q237_scd2" ->
      """WITH b1 AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |    DATE '2024-01-01' AS eff FROM customer),
        |b2 AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'MIGRATED'
        |         ELSE c_mktsegment END AS seg,
        |    DATE '2024-02-01' AS eff FROM customer),
        |allb AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
        |dedup AS (
        |  SELECT *, lag(seg) OVER (PARTITION BY c_custkey ORDER BY eff)
        |    AS prev
        |  FROM allb),
        |vers AS (
        |  SELECT c_custkey, seg, eff AS valid_from FROM dedup
        |  WHERE prev IS NULL OR seg <> prev),
        |fin AS (
        |  SELECT c_custkey, seg, valid_from,
        |    lead(valid_from) OVER (PARTITION BY c_custkey
        |      ORDER BY valid_from) AS valid_to
        |  FROM vers)
        |SELECT c_custkey, seg, valid_from,
        |  coalesce(valid_to, DATE '9999-12-31') AS valid_to,
        |  valid_to IS NULL AS is_current
        |FROM fin""".stripMargin,

    // q236: the one-shot join — commit structure cannot leak
    "q236_join_view" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date,
        |  round(o_totalprice, 2) AS price, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    // q235: the renamed projection + the delete's complement
    "q235_column_rename" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date,
        |  round(o_totalprice, 2) AS price, o_orderpriority
        |FROM orders
        |WHERE NOT (round(o_totalprice, 2) < 20000.0)""".stripMargin,

    // q233: generator arithmetic replayed through the 2x2 patch index
    // map (the q84 pixel formula), all BIGINT
    "q233_image_patchify" ->
      """WITH ids AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |grid AS (
        |  SELECT doc_id, pr.range AS patch_row, pc.range AS patch_col, w, h
        |  FROM ids, range(3) pr, range(4) pc
        |  WHERE pr.range < h // 2 AND pc.range < w // 2),
        |px AS (
        |  SELECT doc_id, patch_row, patch_col,
        |    CAST(((doc_id * 31 + 7 * (patch_col * 2) + 13 * (patch_row * 2)) % 256)
        |     + ((doc_id * 31 + 7 * (patch_col * 2 + 1) + 13 * (patch_row * 2)) % 256)
        |     + ((doc_id * 31 + 7 * (patch_col * 2) + 13 * (patch_row * 2 + 1)) % 256)
        |     + ((doc_id * 31 + 7 * (patch_col * 2 + 1) + 13 * (patch_row * 2 + 1)) % 256)
        |      AS BIGINT) AS px_sum
        |  FROM grid)
        |SELECT doc_id, CAST(patch_row AS BIGINT) AS patch_row,
        |  CAST(patch_col AS BIGINT) AS patch_col, px_sum,
        |  px_sum * 1000000 // 4 AS mean_micro
        |FROM px""".stripMargin,

    // q234: the parameterized BM25 chain over the FULL corpus with
    // phrase query terms; gold rank + reciprocal rank from `ranked`
    "q234_retrieval_mrr" -> q234OracleSql,

    // q230: the draw chain (rolling fold → q206 avalanche → Poisson
    // inverse CDF on fixed micro thresholds) + per-replicate exact
    // means + discrete order-stat bounds, replayed verbatim
    "q230_bootstrap_ci" ->
      """WITH ev AS (
        |  SELECT CAST(event_id AS VARCHAR) AS id,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |ex AS (
        |  SELECT id, v, unnest(generate_series(0, 199)) AS r FROM ev),
        |h0 AS (
        |  SELECT v, r, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        id || ':' || CAST(r AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        |  FROM ex),
        |h1 AS (SELECT v, r, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h0),
        |h2 AS (SELECT v, r, (xor(h, h // 65536) * 73244475) % 4294967296 AS h FROM h1),
        |h3 AS (SELECT v, r, xor(h, h // 65536) % 1000000 AS u FROM h2),
        |drawn AS (
        |  SELECT v, r, CASE
        |    WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |    WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
        |    WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
        |    WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7
        |    WHEN u < 999998 THEN 8 ELSE 9 END AS m
        |  FROM h3),
        |reps AS (
        |  SELECT r, CAST(sum(m * v) AS BIGINT) // CAST(sum(m) AS BIGINT)
        |      AS mean
        |  FROM drawn GROUP BY r HAVING sum(m) > 0),
        |ranked AS (
        |  SELECT mean, row_number() OVER (ORDER BY mean) AS rk,
        |    count(*) OVER () AS nb
        |  FROM reps),
        |ci AS (
        |  SELECT CAST(max(nb) AS BIGINT) AS n_replicates,
        |    min(CASE WHEN rk * 40 >= nb THEN mean END) AS ci_lo_cents,
        |    min(CASE WHEN rk * 40 >= nb * 39 THEN mean END) AS ci_hi_cents
        |  FROM ranked),
        |pt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(v) AS BIGINT) // count(*) AS point_mean_cents
        |  FROM ev)
        |SELECT n_rows, point_mean_cents, n_replicates, ci_lo_cents,
        |  ci_hi_cents
        |FROM pt CROSS JOIN ci""".stripMargin,

    // q231: the q60 split replay + one sufficient-stats aggregate +
    // the identical double expression tree
    "q231_cuped" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS x,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS y
        |  FROM events GROUP BY 1),
        |h AS (
        |  SELECT x, y,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(
        |        CAST(user_id AS VARCHAR) || ':42', ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM u),
        |arms AS (
        |  SELECT CASE WHEN hv % 1000000 < 500000 THEN 'a' ELSE 'b' END
        |    AS arm, x, y FROM h),
        |gstats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM arms),
        |grp AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(x) AS BIGINT) AS sx_g, CAST(sum(y) AS BIGINT) AS sy_g
        |  FROM arms GROUP BY 1)
        |SELECT arm, n_g,
        |  round(CAST(sy_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS mean_y,
        |  round(
        |    CAST(sy_g AS DOUBLE) / CAST(n_g AS DOUBLE)
        |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * (CAST(sx_g AS DOUBLE) / CAST(n_g AS DOUBLE)
        |         - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS mean_y_adj,
        |  round(
        |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    AS var_reduction
        |FROM grp CROSS JOIN gstats
        |ORDER BY arm""".stripMargin,

    // q232: rank = row_number over (score desc, doc_id) ≡ the
    // two-phase prefix rank; deciles by the exact DIV identity
    "q232_lift_table" ->
      s"""WITH base AS (
        |  SELECT doc_id, lang, text,
        |    regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(round($QualityScoreSql * 1000000) AS BIGINT) AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM base),
        |ranked AS (
        |  SELECT s, y, row_number() OVER (ORDER BY s DESC, doc_id) AS rk,
        |    count(*) OVER () AS n, sum(y) OVER () AS p
        |  FROM scored),
        |cells AS (
        |  SELECT (rk - 1) * 10 // n AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(max(n) AS BIGINT) AS n, CAST(max(p) AS BIGINT) AS p
        |  FROM ranked GROUP BY 1)
        |SELECT bucket, n_docs, n_pos,
        |  CAST(n_pos * 1000000 // n_docs AS BIGINT) AS rate_micro,
        |  CAST(CASE WHEN p > 0 THEN
        |    (sum(n_pos) OVER (ORDER BY bucket)) * n * 1000000
        |      // ((sum(n_docs) OVER (ORDER BY bucket)) * p) END
        |    AS BIGINT) AS cum_lift_micro
        |FROM cells""".stripMargin,

    // q225: the same filter battery; CAST the band edges to DOUBLE
    // (DuckDB parses bare decimals as DECIMAL — different comparison)
    "q225_revenue_delta" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2)
        |    AS promo_revenue,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |  AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
        |  AND l_quantity < 24""".stripMargin,

    "q226_product_profit" ->
      """SELECT n_name,
        |  CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS o_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,

    // q227: identical division parenthesization before the cents
    // round; ties on the per-part minimum all surface
    "q227_min_cost_supplier" ->
      """WITH eur_s AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_regionkey = 3),
        |cost AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT))
        |      AS unit_cents
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM eur_s)
        |  GROUP BY 1, 2),
        |scoped AS (
        |  SELECT c.*, p_name FROM cost c
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'),
        |best AS (
        |  SELECT l_partkey AS bk, min(unit_cents) AS best_cents
        |  FROM scoped GROUP BY 1)
        |SELECT l_partkey AS p_partkey, p_name, s_name,
        |  round(s_acctbal, 2) AS s_bal, n_name, unit_cents
        |FROM scoped JOIN best ON l_partkey = bk AND unit_cents = best_cents
        |JOIN eur_s ON l_suppkey = s_suppkey""".stripMargin,

    "q228_supplier_part_count" ->
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#12' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 15, 25, 35, 45)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q229_dominant_supplier" ->
      """WITH fp AS (
        |  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
        |sq AS (
        |  SELECT l_suppkey, l_partkey, CAST(sum(l_quantity) AS BIGINT) AS q
        |  FROM lineitem JOIN fp ON l_partkey = p_partkey
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |  GROUP BY 1, 2),
        |tq AS (SELECT l_partkey AS pk, sum(q) AS t FROM sq GROUP BY 1),
        |dom AS (
        |  SELECT DISTINCT l_suppkey FROM sq
        |  JOIN tq ON l_partkey = pk AND q * 4 > t)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_12'
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dom)""".stripMargin,

    // q219: restore must undo the delete and the clone must reference
    // every restored file — the full pre-delete table is the oracle
    "q219_restore_clone" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date,
        |  round(o_totalprice, 2) AS o_price, o_orderpriority
        |FROM orders""".stripMargin,

    // q221: 6 unrolled peeling rounds (degree → keep → filter)
    "q221_kcore" -> KCoreOracleSql,

    // q220: thresholds, bit pack (Σ 2^i in two halves), Hamming rank,
    // exact-cosine re-rank — every stage replayed; the dot folds are
    // the q198 sequential list_reduce (DotProduct's order)
    "q220_binary_quant_ann" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |thr AS (
        |  SELECT dim, CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT))
        |      // count(*) AS BIGINT) AS thr_micro
        |  FROM (SELECT i - 1 AS dim, v[i] AS x
        |        FROM e, (SELECT unnest(generate_series(1,
        |          (SELECT max(len(v)) FROM e))) AS i) g)
        |  GROUP BY 1),
        |codes AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN dim < 32 AND vm > thr_micro
        |      THEN 1::BIGINT << dim ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN dim >= 32 AND dim < 64 AND vm > thr_micro
        |      THEN 1::BIGINT << (dim - 32) ELSE 0 END) AS BIGINT) AS hi
        |  FROM (SELECT vec_id, i - 1 AS dim,
        |          CAST(floor(v[i] * 1000000.0) AS BIGINT) AS vm
        |        FROM e, (SELECT unnest(generate_series(1,
        |          (SELECT max(len(v)) FROM e))) AS i) g)
        |  JOIN thr USING (dim)
        |  GROUP BY 1),
        |coarse AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(bit_count(xor(q.lo, c.lo))
        |       + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS hamming
        |  FROM codes q JOIN codes c ON q.vec_id < 12
        |    AND c.vec_id <> q.vec_id),
        |surv AS (
        |  SELECT query_id, neighbor_id, hamming FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY hamming, neighbor_id) AS crank FROM coarse)
        |  WHERE crank <= 20),
        |fine AS (
        |  SELECT s.query_id, s.neighbor_id, s.hamming,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [qe.v[i+1] * ce.v[i+1] for i in generate_series(0, len(qe.v)-1)]),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [qe.v[i+1] * qe.v[i+1] for i in generate_series(0, len(qe.v)-1)]),
        |         (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         [ce.v[i+1] * ce.v[i+1] for i in generate_series(0, len(ce.v)-1)]),
        |         (acc, x) -> acc + x))) AS cos
        |  FROM surv s JOIN e qe ON qe.vec_id = s.query_id
        |  JOIN e ce ON ce.vec_id = s.neighbor_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  hamming, round(cos, 6) AS cosine
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id) AS rank FROM fine)
        |WHERE rank <= 5""".stripMargin,

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

  /** Shared literal-codebook CTEs for the PQ oracles: `books` holds the
    * identical codewords the engine embeds (ProductQuantizer
    * .hashCodebooks), and the encode stage reproduces the argmin-L2
    * code with the same sequential fold and the same smaller-code
    * tie-break.
    */
  private lazy val pqBooksCte: String = {
    val m = PqOracleModel.m
    val rows = (for (j <- 0 until m; r <- 0 until PqOracleModel.ks) yield {
      val comps = PqOracleModel.codebooks(j)(r).mkString(", ")
      s"($j, $r, [$comps]::DOUBLE[])"
    }).mkString(",\n")
    s"""books(j, r, c) AS (VALUES
       |$rows),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |subs AS (
       |  SELECT e.vec_id, b.j, b.r, b.c,
       |    e.v[b.j*${PqOracleModel.subDim}+1 : b.j*${PqOracleModel.subDim}+${PqOracleModel.subDim}] AS s
       |  FROM e, books b),
       |scored AS (
       |  SELECT vec_id, j, r,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      [s[i+1] * c[i+1] for i in generate_series(0, len(s)-1)]),
       |      (acc, x) -> acc + x)
       |    - list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        [c[i+1] * c[i+1] for i in generate_series(0, len(c)-1)]),
       |        (acc, x) -> acc + x) / 2 AS score
       |  FROM subs),
       |codes AS (
       |  SELECT vec_id, j, r AS code
       |  FROM (SELECT vec_id, j, r, row_number() OVER (
       |          PARTITION BY vec_id, j ORDER BY score DESC, r ASC) AS rnk
       |        FROM scored)
       |  WHERE rnk = 1)""".stripMargin
  }

  private lazy val pqEncodeOracleSql: String =
    s"""WITH $pqBooksCte
       |SELECT vec_id, CAST(j AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code
       |FROM codes""".stripMargin

  private lazy val pqAdcOracleSql: String =
    s"""WITH $pqBooksCte,
       |q AS (SELECT vec_id AS query_id, v,
       |        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          [v[i+1] * v[i+1] for i in generate_series(0, len(v)-1)]),
       |          (acc, x) -> acc + x)) AS q_n
       |      FROM e WHERE vec_id % 50 = 1),
       |vn AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          [v[i+1] * v[i+1] for i in generate_series(0, len(v)-1)]),
       |          (acc, x) -> acc + x)) AS vnorm
       |       FROM e),
       |lut AS (
       |  SELECT q.query_id, b2.j, b2.r,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      [q.v[b2.j*${PqOracleModel.subDim} + i + 1] * b2.c[i+1]
       |       for i in generate_series(0, len(b2.c)-1)]),
       |      (acc, x) -> acc + x) AS sub_dot
       |  FROM q, books b2),
       |adc AS (
       |  -- sum the m sub-products in subspace order (j ascending) so
       |  -- the float fold matches the engine's sequential aggregate
       |  SELECT l.query_id, cd.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(l.sub_dot ORDER BY l.j)), (acc, x) -> acc + x) AS dot_approx
       |  FROM codes cd JOIN lut l ON l.j = cd.j AND l.r = cd.code
       |  WHERE l.query_id <> cd.vec_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT a.query_id, a.vec_id AS neighbor_id,
       |    a.dot_approx / (q.q_n * vn.vnorm) AS cos_approx,
       |    row_number() OVER (PARTITION BY a.query_id
       |      ORDER BY a.dot_approx / (q.q_n * vn.vnorm) DESC, a.vec_id ASC) AS rnk
       |  FROM adc a
       |  JOIN q ON a.query_id = q.query_id
       |  JOIN vn ON a.vec_id = vn.vec_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id,
       |  round(cos_approx, 6) AS cos_approx
       |FROM ranked WHERE rnk <= 10""".stripMargin

  /** q87's oracle: IVFADC replayed relationally — coarse assignment
    * and probe selection exactly as q27's oracle, PQ codes and the
    * query LUT exactly as q56/q57's, with ADC ranking restricted to
    * the probed candidates. Sub-dot fold order (j ascending) matches
    * the engine's sequential AdcScore aggregate.
    */
  private lazy val q87OracleSql: String =
    s"""WITH $pqBooksCte,
       |cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e
       |  WHERE vec_id % 97 = 3),
       |assigned AS (
       |  SELECT vec_id, centroid_id AS bucket FROM (
       |    SELECT e.vec_id, cents.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${duckCos("e.v", "cents.cv")}
       |        DESC, cents.centroid_id ASC) AS rnk
       |    FROM e, cents) WHERE rnk = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv,
       |        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          [v[i+1] * v[i+1] for i in generate_series(0, len(v)-1)]),
       |          (acc, x) -> acc + x)) AS q_n
       |      FROM e WHERE vec_id < 8),
       |probes AS (
       |  SELECT query_id, centroid_id AS bucket FROM (
       |    SELECT q.query_id, cents.centroid_id,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        ${duckCos("q.qv", "cents.cv")}
       |        DESC, cents.centroid_id ASC) AS rnk
       |    FROM q, cents) WHERE rnk <= 2),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probes p JOIN assigned a ON p.bucket = a.bucket
       |  WHERE p.query_id <> a.vec_id),
       |vn AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          [v[i+1] * v[i+1] for i in generate_series(0, len(v)-1)]),
       |          (acc, x) -> acc + x)) AS vnorm FROM e),
       |lut AS (
       |  SELECT q.query_id, b2.j, b2.r,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      [q.qv[b2.j*${PqOracleModel.subDim} + i + 1] * b2.c[i+1]
       |       for i in generate_series(0, len(b2.c)-1)]),
       |      (acc, x) -> acc + x) AS sub_dot
       |  FROM q, books b2),
       |adc AS (
       |  SELECT cand.query_id, cand.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(l.sub_dot ORDER BY l.j)), (acc, x) -> acc + x) AS dot_approx
       |  FROM cand
       |  JOIN codes cd ON cand.vec_id = cd.vec_id
       |  JOIN lut l ON l.query_id = cand.query_id
       |    AND l.j = cd.j AND l.r = cd.code
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT a.query_id, a.vec_id AS neighbor_id,
       |    a.dot_approx / (q.q_n * vn.vnorm) AS cos_approx,
       |    row_number() OVER (PARTITION BY a.query_id
       |      ORDER BY a.dot_approx / (q.q_n * vn.vnorm) DESC, a.vec_id ASC) AS rnk
       |  FROM adc a
       |  JOIN q ON a.query_id = q.query_id
       |  JOIN vn ON a.vec_id = vn.vec_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id,
       |  round(cos_approx, 6) AS cos_approx
       |FROM ranked WHERE rnk <= 5""".stripMargin

  /** q78's oracle: the ENTIRE 100-merge training loop replayed as one
    * recursive CTE — the iterated argmax the r5-r7 gates could only
    * rows-only-check. The working table is the symbolized dictionary
    * (one row per word type, it = merges applied so far); each
    * recursion (a) re-counts adjacent pairs over all current rows
    * weighted by word frequency, (b) picks the trainer's exact argmax
    * (count desc, pair lexicographic — DuckDB and the JVM agree on
    * byte order for this ASCII symbol space), (c) rewrites every word
    * with leftmost-non-overlapping merge-all (q85's run-parity test),
    * carrying the chosen pair on every row of the new iteration. The
    * merge list is then DISTINCT(it, pair); termination mirrors the
    * trainer (100 merges or best count under minFrequency=2). This
    * pins loop-vs-declared semantics on corpus data for every step,
    * not just step 1 (q96).
    */
  private lazy val q78OracleSql: String = {
    // leftmost-non-overlap keep test (q85's run-parity form) for match
    // position `i` over list `sv` against the chosen pair bp
    def kept(sv: String, i: String) =
      s"""($i >= 1 AND $i < len($sv) AND $sv[$i] = bp.a AND $sv[$i + 1] = bp.b
         |      AND ((($i - 1) - coalesce(list_max([j for j in
         |        generate_series(1, $i - 1)
         |        if NOT ($sv[j] = bp.a AND $sv[j + 1] = bp.b)]), 0)) % 2 = 0))""".stripMargin
    s"""WITH RECURSIVE
       |toks AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |  FROM documents),
       |dict AS (
       |  SELECT word, count(*) AS cnt FROM toks
       |  WHERE length(word) > 0 GROUP BY 1 HAVING count(*) >= 2),
       |steps(it, s, cnt, m_a, m_b) AS (
       |  SELECT 0, list_append(regexp_split_to_array(word, ''), '</w>'),
       |         CAST(cnt AS BIGINT),
       |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
       |  FROM dict
       |  UNION ALL
       |  SELECT st.it + 1,
       |    list_filter([CASE WHEN ${kept("st.s", "i")}
       |                        THEN st.s[i] || st.s[i + 1]
       |                      WHEN i > 1 AND ${kept("st.s", "(i - 1)")}
       |                        THEN NULL
       |                      ELSE st.s[i] END
       |                 for i in generate_series(1, len(st.s))],
       |                x -> x IS NOT NULL),
       |    st.cnt, bp.a, bp.b
       |  FROM steps st, (
       |    SELECT a, b, c FROM (
       |      SELECT s2.s[i] AS a, s2.s[i + 1] AS b, sum(s2.cnt) AS c
       |      FROM steps s2, unnest(generate_series(1, len(s2.s) - 1)) AS t(i)
       |      GROUP BY 1, 2
       |    ) ORDER BY c DESC, a, b LIMIT 1
       |  ) bp
       |  WHERE st.it < 100 AND bp.c >= 2
       |)
       |SELECT CAST(it - 1 AS BIGINT) AS merge_rank, m_a AS lhs, m_b AS rhs
       |FROM steps WHERE it > 0 GROUP BY 1, 2, 3""".stripMargin
  }

  /** q80's oracle — the ENTIRE flagship pipeline replayed as one
    * DuckDB statement: the q73 curation chain (survivor set), the q78
    * merge-training recursion over the CURATED corpus, vocabulary
    * numbering (chars sorted, then '</w>' + merge products in learned
    * order, keep-first dedup — Bpe.vocabFromCounts), the q85 encode
    * recursion with the TRAINED merge state carried ON the rows (a
    * steps-derived CTE referenced inside a recursion is re-evaluated
    * per iteration — measured 130s -> 1s), the q74/q79 placement
    * algebra over piece counts, sequence assembly, and an md5 digest
    * of the comma-joined ids (portable, unlike Spark's xxhash64 —
    * which is why q80's projection switched). Every non-recursive CTE
    * is MATERIALIZED: the multi-consumer curation chain otherwise
    * re-evaluates per downstream path. This closes the last
    * composition-level rows-only gate — only the two ML scorers
    * (q28/q29) remain rows-only, each with a full-oracle twin.
    */
  /** q278: the greedy k-center chain unrolled to k fixed steps — each
    * step is one argmax CTE (ORDER BY md DESC, vec_id LIMIT 1) and one
    * running-min-distance CTE against the new center; distances are
    * exact BIGINT sums over the micro lattice, so the whole greedy
    * replays bit-for-bit.
    */
  private def kcenterDistSql(p: String, c: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(generate_series(1, 64), " +
      s"i -> ($p.vm[i] - $c.vm[i]) * ($p.vm[i] - $c.vm[i]))), " +
      "(a, b) -> a + b)"

  /** The unrolled greedy k-center CTE chain shared by q278 and q280:
    * pts, then alternating argmax (sN) and running-min-distance (dN)
    * CTEs, ending at s`k` (no trailing comma).
    */
  private def kcenterChainSql(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """pts AS (
        |  SELECT vec_id, list_transform(embedding,
        |    v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS vm
        |  FROM embeddings),
        |s1 AS (SELECT vec_id, vm, CAST(0 AS BIGINT) AS md
        |       FROM pts ORDER BY vec_id LIMIT 1),
        |""".stripMargin)
    sb.append(s"d1 AS (SELECT p.vec_id, p.vm, ${kcenterDistSql("p", "c")} " +
      "AS md FROM pts p, s1 c),\n")
    for (i <- 2 to k) {
      sb.append(s"s$i AS (SELECT vec_id, vm, md FROM d${i - 1} " +
        s"ORDER BY md DESC, vec_id LIMIT 1)")
      if (i < k) sb.append(s",\nd$i AS (SELECT p.vec_id, p.vm, " +
        s"least(p.md, ${kcenterDistSql("p", "c")}) AS md " +
        s"FROM d${i - 1} p, s$i c),\n")
    }
    sb.toString
  }

  private lazy val q278OracleSql: String =
    "WITH " + kcenterChainSql(6) + "\n" +
      (1 to 6).map { i =>
        s"SELECT CAST($i AS BIGINT) AS step, vec_id, " +
          (if (i == 1) "CAST(0 AS BIGINT) AS sel_dist"
           else "md AS sel_dist") + s" FROM s$i"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY step")

  /** q280: the q278 chain's six centers re-joined against every point;
    * argmin by (distance, step) via one per-point rank, then the
    * per-center census.
    */
  private lazy val q280OracleSql: String =
    "WITH " + kcenterChainSql(6) + ",\ncenters AS (\n" +
      (1 to 6).map { i =>
        s"  SELECT CAST($i AS BIGINT) AS step, vec_id AS center_id, vm " +
          s"FROM s$i"
      }.mkString("", "\n  UNION ALL\n", "),\n") +
      s"""dists AS (
         |  SELECT p.vec_id AS kc_id, c.step, c.center_id,
         |    ${kcenterDistSql("p", "c")} AS d2
         |  FROM pts p, centers c),
         |best AS (
         |  SELECT kc_id, step, center_id, d2,
         |    row_number() OVER (PARTITION BY kc_id ORDER BY d2, step) AS rn
         |  FROM dists)
         |SELECT step, center_id, CAST(count(*) AS BIGINT) AS n_assigned,
         |  CAST(max(d2) AS BIGINT) AS max_dist,
         |  CAST(sum(d2) AS BIGINT) AS sum_dist
         |FROM best WHERE rn = 1 GROUP BY step, center_id""".stripMargin

  private lazy val q80OracleSql: String =
    """WITH RECURSIVE
       |-- ======== curation (q73's oracle chain, survivor set only) ========
       |base AS MATERIALIZED (
       |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS t
       |  FROM documents),
       |ratios AS MATERIALIZED (
       |  SELECT doc_id, text, t,
       |    CAST(len(list_filter(t, x -> list_contains(
       |      ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
       |      / len(t) AS sw,
       |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
       |      / length(text) AS punct,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
       |      / length(text) AS alpha
       |  FROM base),
       |qual AS MATERIALIZED (
       |  SELECT doc_id, text, t,
       |    round(sw * 0.4 + alpha * 0.6 - punct * 0.5, 6) AS quality_score
       |  FROM ratios),
       |rep AS MATERIALIZED (
       |  SELECT doc_id,
       |    round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
       |      AS dup_token_ratio
       |  FROM base),
       |g1 AS MATERIALIZED (
       |  SELECT q.doc_id, q.text, q.t
       |  FROM qual q JOIN rep r ON q.doc_id = r.doc_id
       |  WHERE q.quality_score >= 0.51 AND r.dup_token_ratio <= 0.6),
       |wins AS MATERIALIZED (
       |  SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos, unnest(ws) AS win
       |  FROM (SELECT doc_id,
       |          [array_to_string(t[i+1:i+8], ' ')
       |           for i in generate_series(0, greatest(len(t)-8, 0))] AS ws
       |        FROM g1)),
       |whash AS MATERIALIZED (
       |  SELECT doc_id, pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(regexp_split_to_array(win, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
       |  FROM wins),
       |wflag AS MATERIALIZED (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM whash)
       |  WHERE cnt >= 2),
       |wcov AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN nxt IS NULL THEN 8 ELSE least(8, nxt - pos) END)
       |      AS BIGINT) AS dup_raw
       |  FROM (SELECT doc_id, pos,
       |          lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |        FROM wflag)
       |  GROUP BY 1),
       |g2 AS MATERIALIZED (
       |  SELECT g.doc_id, g.text, g.t
       |  FROM g1 g LEFT JOIN wcov c ON g.doc_id = c.doc_id
       |  WHERE round(CAST(least(coalesce(c.dup_raw, 0), len(g.t)) AS DOUBLE)
       |    / len(g.t), 6) <= 0.8),
       |keptx AS MATERIALIZED (
       |  SELECT doc_id, text, t,
       |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM g2),
       |keptd AS MATERIALIZED (SELECT doc_id, text, t FROM keptx WHERE rn = 1),
       |lmp AS MATERIALIZED (
       |  SELECT doc_id, unnest([{'w1': t[i+1], 'w2': t[i+2]}
       |    for i in generate_series(0, len(t)-2)]) AS p
       |  FROM keptd WHERE len(t) >= 2),
       |lm AS MATERIALIZED (
       |  SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c FROM lmp GROUP BY 1, 2),
       |ctx AS MATERIALIZED (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx FROM lm GROUP BY 1),
       |voc AS MATERIALIZED (SELECT count(DISTINCT tok) AS v
       |        FROM (SELECT unnest(t) AS tok FROM keptd)),
       |lterm AS MATERIALIZED (
       |  SELECT l0.doc_id, coalesce(lm.c, 0) AS c, coalesce(ctx.c_ctx, 0) AS cctx
       |  FROM lmp l0
       |  LEFT JOIN lm ON l0.p['w1'] = lm.w1 AND l0.p['w2'] = lm.w2
       |  LEFT JOIN ctx ON l0.p['w1'] = ctx.w1),
       |lscore AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(sum(CAST(floor(1e6 * ln(
       |      CAST(c + 1 AS DOUBLE) /
       |      CAST(cctx + (SELECT v FROM voc) AS DOUBLE))) AS BIGINT)) AS BIGINT)
       |      AS ll_scaled
       |  FROM lterm GROUP BY 1),
       |g3 AS MATERIALIZED (
       |  SELECT k.doc_id, k.text, k.t
       |  FROM keptd k LEFT JOIN lscore s ON k.doc_id = s.doc_id
       |  WHERE coalesce(s.ll_scaled, 0) >= -3450000 * coalesce(s.n_bigrams, 0)),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(
       |    [array_to_string(t[i+1:i+3], ' ')
       |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
       |  FROM g3),
       |shcounts AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |prs AS MATERIALIZED (
       |  SELECT p.doc_a, p.doc_b
       |  FROM cand p
       |  JOIN shcounts ca ON p.doc_a = ca.doc_id
       |  JOIN shcounts cb ON p.doc_b = cb.doc_id
       |  WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION SELECT doc_b, doc_a FROM prs),
       |cc AS MATERIALIZED (
       |  SELECT src AS doc, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst AS doc, cc.lbl FROM cc JOIN edges e ON cc.doc = e.src),
       |labels AS MATERIALIZED (SELECT doc, min(lbl) AS cluster_id FROM cc GROUP BY 1),
       |corpus AS MATERIALIZED (
       |  SELECT k.doc_id, k.text, k.t
       |  FROM g3 k LEFT JOIN labels l ON k.doc_id = l.doc
       |  WHERE coalesce(l.cluster_id, k.doc_id) = k.doc_id),
       |-- ======== BPE training on the curated corpus (q78's loop) ========
       |cw AS MATERIALIZED (SELECT unnest(t) AS word FROM corpus),
       |dict AS MATERIALIZED (
       |  SELECT word, count(*) AS cnt FROM cw
       |  WHERE length(word) > 0 GROUP BY 1 HAVING count(*) >= 2),
       |steps(it, s, cnt, m_a, m_b) AS (
       |  SELECT 0, list_append(regexp_split_to_array(word, ''), '</w>'),
       |         CAST(cnt AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
       |  FROM dict
       |  UNION ALL
       |  SELECT st.it + 1,
       |    list_filter([CASE WHEN (i >= 1 AND i < len(st.s) AND st.s[i] = bp.a AND st.s[i + 1] = bp.b
       |      AND (((i - 1) - coalesce(list_max([j for j in generate_series(1, i - 1)
       |        if NOT (st.s[j] = bp.a AND st.s[j + 1] = bp.b)]), 0)) % 2 = 0))
       |                        THEN st.s[i] || st.s[i + 1]
       |                      WHEN i > 1 AND ((i - 1) >= 1 AND (i - 1) < len(st.s) AND st.s[(i - 1)] = bp.a AND st.s[(i - 1) + 1] = bp.b
       |      AND ((((i - 1) - 1) - coalesce(list_max([j for j in generate_series(1, (i - 1) - 1)
       |        if NOT (st.s[j] = bp.a AND st.s[j + 1] = bp.b)]), 0)) % 2 = 0))
       |                        THEN NULL
       |                      ELSE st.s[i] END
       |                 for i in generate_series(1, len(st.s))],
       |                x -> x IS NOT NULL),
       |    st.cnt, bp.a, bp.b
       |  FROM steps st, (
       |    SELECT a, b, c FROM (
       |      SELECT s2.s[i] AS a, s2.s[i + 1] AS b, sum(s2.cnt) AS c
       |      FROM steps s2, unnest(generate_series(1, len(s2.s) - 1)) AS t(i)
       |      GROUP BY 1, 2
       |    ) ORDER BY c DESC, a, b LIMIT 1
       |  ) bp
       |  WHERE st.it < 100 AND bp.c >= 2
       |),
       |mg_t AS MATERIALIZED (
       |  SELECT CAST(it - 1 AS BIGINT) AS rank, m_a, m_b
       |  FROM steps WHERE it > 0 GROUP BY 1, 2, 3),
       |-- ======== vocabulary numbering (Bpe.vocabFromCounts) ========
       |chars AS MATERIALIZED (
       |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) AS BIGINT) - 1
       |    AS piece_id
       |  FROM (SELECT DISTINCT unnest(regexp_split_to_array(word, '')) AS piece
       |        FROM dict
       |        -- NOTE: vocabFromCounts scans word TYPES of the FULL word-count
       |        -- table (no min-frequency filter)
       |        ) WHERE length(piece) > 0),
       |allwords AS MATERIALIZED (SELECT DISTINCT word FROM cw WHERE length(word) > 0),
       |vchars AS MATERIALIZED (
       |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) AS BIGINT) - 1
       |    AS piece_id
       |  FROM (SELECT DISTINCT unnest(regexp_split_to_array(word, '')) AS piece
       |        FROM allwords) WHERE length(piece) > 0),
       |vbase AS MATERIALIZED (SELECT count(*) AS c FROM vchars),
       |products AS MATERIALIZED (
       |  SELECT CAST(-1 AS BIGINT) AS ord, '</w>' AS piece
       |  UNION ALL
       |  SELECT rank, m_a || m_b FROM mg_t),
       |firsts AS MATERIALIZED (SELECT piece, min(ord) AS ord FROM products GROUP BY 1),
       |learned AS MATERIALIZED (
       |  SELECT piece,
       |    (SELECT c FROM vbase) + CAST(row_number() OVER (ORDER BY ord) AS BIGINT)
       |      - 1 AS piece_id
       |  FROM firsts),
       |vocab AS MATERIALIZED (SELECT * FROM vchars UNION ALL SELECT * FROM learned),
       |-- ======== encode every distinct corpus word (q85's machinery) ========
       |mmap AS MATERIALIZED (
       |  SELECT map_from_entries(list(struct_pack(k := m_a || '|' || m_b,
       |    v := rank))) AS m FROM mg_t),
       |mgl AS MATERIALIZED (
       |  SELECT list(struct_pack(a := m_a, b := m_b) ORDER BY rank) AS l
       |  FROM mg_t),
       |-- merge state rides ON the rows (mm map, ml list): the recursion never
       |-- references a steps-derived CTE, which DuckDB would otherwise
       |-- re-evaluate (and re-run the training recursion) once per iteration
       |enc(word, s, mm, ml) AS (
       |  SELECT word, list_append(regexp_split_to_array(word, ''), '</w>'),
       |         mmap.m, mgl.l
       |  FROM allwords, mmap, mgl
       |  UNION ALL
       |  SELECT w2.word,
       |    list_filter([CASE WHEN (i >= 1 AND i < len(w2.s) AND w2.s[i] = w2.ma AND w2.s[i + 1] = w2.mb
       |      AND (((i - 1) - coalesce(list_max([j for j in generate_series(1, i - 1)
       |        if NOT (w2.s[j] = w2.ma AND w2.s[j + 1] = w2.mb)]), 0)) % 2 = 0))
       |                        THEN w2.s[i] || w2.s[i + 1]
       |                      WHEN i > 1 AND ((i - 1) >= 1 AND (i - 1) < len(w2.s) AND w2.s[(i - 1)] = w2.ma AND w2.s[(i - 1) + 1] = w2.mb
       |      AND ((((i - 1) - 1) - coalesce(list_max([j for j in generate_series(1, (i - 1) - 1)
       |        if NOT (w2.s[j] = w2.ma AND w2.s[j + 1] = w2.mb)]), 0)) % 2 = 0))
       |                        THEN NULL
       |                      ELSE w2.s[i] END
       |                 for i in generate_series(1, len(w2.s))],
       |                x -> x IS NOT NULL),
       |    w2.mm, w2.ml
       |  FROM (
       |    SELECT e.word, e.s, e.mm, e.ml,
       |      e.ml[CAST(coalesce(list_min([coalesce(
       |      map_extract(e.mm, e.s[i] || '|' || e.s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(e.s) - 1)]), 1000000) AS BIGINT) + 1]['a'] AS ma,
       |      e.ml[CAST(coalesce(list_min([coalesce(
       |      map_extract(e.mm, e.s[i] || '|' || e.s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(e.s) - 1)]), 1000000) AS BIGINT) + 1]['b'] AS mb,
       |      coalesce(list_min([coalesce(
       |      map_extract(e.mm, e.s[i] || '|' || e.s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(e.s) - 1)]), 1000000) AS minr
       |    FROM enc e
       |  ) w2
       |  WHERE w2.minr < 1000000
       |),
       |fin AS MATERIALIZED (
       |  SELECT e.word, e.s FROM enc e
       |  WHERE coalesce(list_min([coalesce(
       |      map_extract(e.mm, e.s[i] || '|' || e.s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(e.s) - 1)]), 1000000) = 1000000),
       |wpieces AS MATERIALIZED (
       |  SELECT word, generate_subscripts(s, 1) AS pp, unnest(s) AS piece
       |  FROM fin),
       |wids AS MATERIALIZED (
       |  SELECT wp.word, list(v.piece_id ORDER BY wp.pp) AS ids
       |  FROM wpieces wp JOIN vocab v ON wp.piece = v.piece
       |  GROUP BY 1),
       |-- ======== per-doc id arrays, placement, assembly, digest ========
       |dwords AS MATERIALIZED (
       |  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS word
       |  FROM corpus),
       |docids AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    flatten(list(w.ids ORDER BY d.pos)) AS piece_ids
       |  FROM dwords d JOIN wids w ON d.word = w.word
       |  GROUP BY 1),
       |doclen AS MATERIALIZED (
       |  SELECT doc_id, piece_ids, CAST(len(piece_ids) AS BIGINT) AS n
       |  FROM docids),
       |cum AS MATERIALIZED (
       |  SELECT doc_id, piece_ids, n,
       |    CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS e
       |  FROM doclen),
       |placed AS MATERIALIZED (
       |  SELECT doc_id, piece_ids, n, e - n AS s, e FROM cum WHERE n > 0),
       |m AS MATERIALIZED (
       |  SELECT doc_id, piece_ids, s, e,
       |    unnest(generate_series(s // 512, (e - 1) // 512)) AS seq_id
       |  FROM placed),
       |slices AS MATERIALIZED (
       |  SELECT seq_id,
       |    greatest(s, seq_id * 512) - seq_id * 512 AS seq_off,
       |    least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS n_toks,
       |    list_slice(piece_ids,
       |      greatest(seq_id * 512 - s, 0) + 1,
       |      greatest(seq_id * 512 - s, 0)
       |        + least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512)) AS ids
       |  FROM m)
       |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |  md5(string_agg(array_to_string(ids, ','), ',' ORDER BY seq_off))
       |    AS ids_hash
       |FROM slices GROUP BY 1""".stripMargin

  /** q101's oracle (shared by q102, whose two-commit index must
    * answer identically): postings/df/dl/idf and the per-query rank
    * window replayed relationally, per-term scores floored to 1e-6
    * BIGINT before the order-free sum, identical parenthesization to
    * `Retrieval.bm25TopK`.
    */
  /** The BM25 relational chain as CTE-list text (ends with `ranked`,
    * which carries every (query, doc) pair's rank) — q101/q102 filter
    * it to k = 10 directly; q103 composes it at depth 20 as the sparse
    * arm of the hybrid RRF fusion.
    */
  /** The BM25 chain parameterized over the corpus filter and the
    * query-term CTE body — q101/q102/q103 instantiate the held-out
    * split; q234 instantiates phrase queries over the full corpus.
    */
  private def bm25CtesFor(trainWhere: String, qtermsSql: String): String =
    s"""tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      |  FROM documents WHERE length(trim(text)) > 0),
      |train_tok AS (SELECT * FROM tok $trainWhere),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      |  FROM train_tok GROUP BY 1),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM train_tok GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |qterms AS (
      |  $qtermsSql),
      |term_scores AS (
      |  SELECT q.query_id, t.doc_id,
      |    CAST(floor(1000000.0 * (
      |      ln(1.0 + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
      |                 / (CAST(d.df AS DOUBLE) + 0.5))
      |      * (CAST(t.tf AS DOUBLE) * 2.2
      |         / (CAST(t.tf AS DOUBLE) + 0.3
      |            + 0.9 * (CAST(l.dl AS DOUBLE) * s.n_docs) / s.total_len))))
      |      AS BIGINT) AS sm
      |  FROM qterms q
      |  JOIN tf t ON q.term = t.term
      |  JOIN df d ON q.term = d.term
      |  JOIN dl l ON t.doc_id = l.doc_id
      |  CROSS JOIN stats s),
      |scores AS (
      |  SELECT query_id, doc_id, CAST(sum(sm) AS BIGINT) AS bm25_micro
      |  FROM term_scores GROUP BY 1, 2),
      |ranked AS (
      |  SELECT query_id, doc_id, bm25_micro,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY bm25_micro DESC, doc_id) AS BIGINT) AS rank
      |  FROM scores)""".stripMargin

  private lazy val bm25Ctes: String = bm25CtesFor(
    "WHERE doc_id % 100 <> 0",
    """SELECT DISTINCT doc_id AS query_id, term FROM tok
      |  WHERE doc_id % 100 = 0""".stripMargin)

  private lazy val q101OracleSql: String =
    s"""WITH $bm25Ctes
       |SELECT query_id, rank, doc_id, bm25_micro FROM ranked
       |WHERE rank <= 10""".stripMargin

  /** q234's oracle: BM25 over the FULL corpus with 4-token phrase
    * queries sliced from their source docs; gold = the source doc.
    */
  private lazy val q234OracleSql: String = {
    val ctes = bm25CtesFor("",
      """SELECT DISTINCT query_id, term FROM (
        |    SELECT doc_id AS query_id,
        |      unnest(list_slice(regexp_split_to_array(trim(text), '\s+'),
        |        3, 18)) AS term
        |    FROM documents
        |    WHERE doc_id IN (0, 50, 100, 150, 200, 250, 300, 350, 400, 450)
        |      AND length(trim(text)) > 0)""".stripMargin)
    s"""WITH $ctes,
       |gold AS (
       |  SELECT query_id, rank FROM ranked
       |  WHERE doc_id = query_id AND rank <= 10),
       |qs AS (SELECT DISTINCT query_id FROM qterms)
       |SELECT q.query_id,
       |  CAST(coalesce(g.rank, 0) AS BIGINT) AS gold_rank,
       |  CAST(CASE WHEN g.rank IS NOT NULL THEN 1000000 // g.rank
       |       ELSE 0 END AS BIGINT) AS rr_micro
       |FROM qs q LEFT JOIN gold g USING (query_id)""".stripMargin
  }

  /** q250's oracle: the q234 BM25 panel scored with nDCG@10 against
    * graded relevance (2 = the query's own source doc, 1 = any doc
    * sharing its (lang, source)). Per-position contributions are
    * BIGINT round(gain·1e6 / ln(rank+1)) — the identical expression
    * tree [[graft.core.Retrieval.ndcgAtK]] evaluates — so the sums
    * are order-free and the final ratio one integer division.
    */
  private lazy val q250OracleSql: String = {
    val ctes = bm25CtesFor("",
      """SELECT DISTINCT query_id, term FROM (
        |    SELECT doc_id AS query_id,
        |      unnest(list_slice(regexp_split_to_array(trim(text), '\s+'),
        |        3, 18)) AS term
        |    FROM documents
        |    WHERE doc_id IN (0, 50, 100, 150, 200, 250, 300, 350, 400, 450)
        |      AND length(trim(text)) > 0)""".stripMargin)
    s"""WITH $ctes,
       |qdocs AS (
       |  SELECT doc_id AS query_id, lang, source FROM documents
       |  WHERE doc_id IN (0, 50, 100, 150, 200, 250, 300, 350, 400, 450)
       |    AND length(trim(text)) > 0),
       |rel AS (
       |  SELECT q.query_id, d.doc_id,
       |    CAST(CASE WHEN d.doc_id = q.query_id THEN 2 ELSE 1 END AS BIGINT)
       |      AS rel
       |  FROM documents d JOIN qdocs q
       |    ON d.lang = q.lang AND d.source = q.source),
       |got AS (
       |  SELECT r.query_id,
       |    CAST(sum(CAST(round(
       |      (pow(2.0, CAST(coalesce(rl.rel, 0) AS DOUBLE)) - 1.0)
       |      * 1000000.0 / ln(CAST(r.rank AS DOUBLE) + 1.0)) AS BIGINT))
       |      AS BIGINT) AS dcg_micro
       |  FROM ranked r LEFT JOIN rel rl
       |    ON r.query_id = rl.query_id AND r.doc_id = rl.doc_id
       |  WHERE r.rank <= 10 GROUP BY 1),
       |ideal AS (
       |  SELECT query_id,
       |    CAST(sum(CAST(round((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
       |      * 1000000.0 / ln(CAST(irank AS DOUBLE) + 1.0)) AS BIGINT))
       |      AS BIGINT) AS idcg_micro
       |  FROM (SELECT query_id, rel, row_number() OVER (PARTITION BY query_id
       |          ORDER BY rel DESC, doc_id) AS irank FROM rel WHERE rel > 0)
       |  WHERE irank <= 10 GROUP BY 1)
       |SELECT g.query_id, g.dcg_micro,
       |  CAST(coalesce(i.idcg_micro, 0) AS BIGINT) AS idcg_micro,
       |  CAST(CASE WHEN coalesce(i.idcg_micro, 0) > 0
       |    THEN g.dcg_micro * 1000000 // i.idcg_micro END AS BIGINT)
       |    AS ndcg_micro
       |FROM got g LEFT JOIN ideal i USING (query_id)""".stripMargin
  }

  /** q270's oracle: the q250 panel's BM25 ranking replay, binary
    * (lang, source) relevance pool, AP/precision/recall in pure
    * integer arithmetic.
    */
  private lazy val q270OracleSql: String = {
    val ctes = bm25CtesFor("",
      """SELECT DISTINCT query_id, term FROM (
        |    SELECT doc_id AS query_id,
        |      unnest(list_slice(regexp_split_to_array(trim(text), '\s+'),
        |        3, 18)) AS term
        |    FROM documents
        |    WHERE doc_id IN (0, 50, 100, 150, 200, 250, 300, 350, 400, 450)
        |      AND length(trim(text)) > 0)""".stripMargin)
    s"""WITH $ctes,
       |qdocs AS (
       |  SELECT doc_id AS query_id, lang, source FROM documents
       |  WHERE doc_id IN (0, 50, 100, 150, 200, 250, 300, 350, 400, 450)
       |    AND length(trim(text)) > 0),
       |pool AS (
       |  SELECT DISTINCT q.query_id, d.doc_id
       |  FROM documents d JOIN qdocs q
       |    ON d.lang = q.lang AND d.source = q.source),
       |ps AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |  FROM pool GROUP BY 1),
       |hits AS (
       |  SELECT r.query_id, CAST(r.rank AS BIGINT) AS rank,
       |    CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM ranked r LEFT JOIN pool p
       |    ON r.query_id = p.query_id AND r.doc_id = p.doc_id
       |  WHERE r.rank <= 10),
       |walked AS (
       |  SELECT query_id, rank, hit,
       |    sum(hit) OVER (PARTITION BY query_id ORDER BY rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS hits_upto
       |  FROM hits),
       |pq AS (
       |  SELECT query_id, CAST(sum(hit) AS BIGINT) AS n_hits_k,
       |    CAST(sum(CASE WHEN hit = 1
       |      THEN hits_upto * 1000000 // rank ELSE 0 END) AS BIGINT)
       |      AS ap_num
       |  FROM walked GROUP BY 1)
       |SELECT pq.query_id, coalesce(ps.n_rel, 0) AS n_rel, n_hits_k,
       |  CAST(n_hits_k * 1000000 // 10 AS BIGINT) AS p_at_k_micro,
       |  CAST(CASE WHEN n_rel > 0 THEN n_hits_k * 1000000 // n_rel END
       |    AS BIGINT) AS recall_at_k_micro,
       |  CAST(CASE WHEN n_rel > 0 THEN ap_num // least(n_rel, 10) END
       |    AS BIGINT) AS ap_micro
       |FROM pq LEFT JOIN ps USING (query_id)""".stripMargin
  }

  /** q103's oracle: RRF fusion of the BM25 chain (depth 20) and the
    * exact dense cosine ranking (depth 20) — each list contributes the
    * INTEGER 1e9 // (60 + rank) so the fused score is an order-free
    * BIGINT sum, identical to `Retrieval.rrfFuse`.
    */
  private lazy val q103OracleSql: String =
    s"""WITH $bm25Ctes,
       |sparse AS (SELECT query_id, rank, doc_id FROM ranked WHERE rank <= 20),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dscored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |    ${duckCos("q.v", "c.v")} AS cos
       |  FROM e q, e c
       |  WHERE q.vec_id % 100 = 0 AND c.vec_id % 100 <> 0),
       |dense AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, doc_id ASC) AS rank FROM dscored)
       |  WHERE rank <= 20),
       |contribs AS (
       |  SELECT query_id, doc_id, 1000000000 // (60 + rank) AS contrib
       |  FROM sparse
       |  UNION ALL
       |  SELECT query_id, doc_id, 1000000000 // (60 + rank) AS contrib
       |  FROM dense),
       |fused AS (
       |  SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_nano
       |  FROM contribs GROUP BY 1, 2),
       |rr AS (
       |  SELECT query_id, doc_id, rrf_nano,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_nano DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM fused)
       |SELECT query_id, rank, doc_id, rrf_nano FROM rr WHERE rank <= 10""".stripMargin

  /** q85's oracle: the greedy rank-merge BPE encode replayed as a
    * recursive CTE over the literal merge table of [[FixedBpeModel]].
    * Per distinct word, the state is the pieces list; each step joins
    * the merge whose rank equals the minimum rank present among
    * adjacent pairs (map lookup over 'a|b' keys), and rewrites the
    * list with leftmost-NON-OVERLAPPING merge-all semantics — the
    * run-parity trick: a match position is merged iff an even number
    * of consecutive match positions immediately precede it (runs only
    * arise for self-pairs like (a,a) on "aaa"). Fixpoint rows (no
    * rank present) are each word's final encoding, reassembled per
    * document in word order.
    */
  private lazy val q85OracleSql: String = {
    val mergeRows = FixedBpeModel.merges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '$a', '$b')" }.mkString(",\n")
    // leftmost-non-overlap keep test for match position `i` (1-based)
    // against pair (mg.a, mg.b) over list `sv`
    def kept(sv: String, i: String) =
      s"""($i >= 1 AND $i < len($sv) AND $sv[$i] = mg.a AND $sv[$i + 1] = mg.b
         |      AND ((($i - 1) - coalesce(list_max([j for j in
         |        generate_series(1, $i - 1)
         |        if NOT ($sv[j] = mg.a AND $sv[j + 1] = mg.b)]), 0)) % 2 = 0))""".stripMargin
    s"""WITH RECURSIVE mg_t(rank, a, b) AS (VALUES
       |$mergeRows),
       |mmap AS (SELECT map_from_entries(list(struct_pack(k := a || '|' || b,
       |    v := rank))) AS m FROM mg_t),
       |docs AS (SELECT doc_id,
       |    CASE WHEN text IS NULL OR trim(text) = ''
       |         THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS words
       |  FROM documents),
       |dw AS (SELECT DISTINCT unnest(words) AS word FROM docs),
       |enc(word, s) AS (
       |  SELECT word, list_append(regexp_split_to_array(word, ''), '</w>')
       |  FROM dw
       |  UNION ALL
       |  SELECT e.word,
       |    list_filter([CASE WHEN ${kept("e.s", "i")}
       |                        THEN e.s[i] || e.s[i + 1]
       |                      WHEN i > 1 AND ${kept("e.s", "(i - 1)")}
       |                        THEN NULL
       |                      ELSE e.s[i] END
       |                 for i in generate_series(1, len(e.s))],
       |                x -> x IS NOT NULL)
       |  FROM enc e, mmap, mg_t mg
       |  WHERE mg.rank = coalesce(list_min([coalesce(
       |      map_extract(mmap.m, e.s[i] || '|' || e.s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(e.s) - 1)]), 1000000)
       |),
       |fin AS (
       |  SELECT word, s FROM enc, mmap
       |  WHERE coalesce(list_min([coalesce(
       |      map_extract(mmap.m, s[i] || '|' || s[i + 1])[1], 1000000)
       |      for i in generate_series(1, len(s) - 1)]), 1000000) = 1000000),
       |wenc AS (SELECT word, array_to_string(s, ' ') AS enc_str,
       |    len(s) AS n_p FROM fin),
       |dwords AS (SELECT doc_id, i.range AS pos, words[i.range + 1] AS word
       |  FROM docs, range(400) i WHERE i.range < len(words)),
       |agg AS (
       |  SELECT d.doc_id, count(*) AS n_words,
       |    CAST(sum(w.n_p) AS BIGINT) AS n_pieces,
       |    string_agg(w.enc_str, ' ' ORDER BY d.pos) AS encoded
       |  FROM dwords d JOIN wenc w ON d.word = w.word
       |  GROUP BY 1)
       |SELECT docs.doc_id,
       |  CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
       |  coalesce(a.encoded, '') AS encoded
       |FROM docs LEFT JOIN agg a ON docs.doc_id = a.doc_id""".stripMargin
  }

  /** q92's oracle: q85's per-doc encode replay as a derived table
    * (DuckDB allows WITH RECURSIVE inside a subquery), joined back to
    * documents for source/n_chars and aggregated. The fertility and
    * chars-per-piece ratios divide exact BIGINT sums once, so the
    * doubles are bit-identical across engines.
    */
  private lazy val q92OracleSql: String =
    s"""SELECT d.source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(t.n_words) AS BIGINT) AS total_words,
       |  CAST(sum(t.n_pieces) AS BIGINT) AS total_pieces,
       |  round(CAST(sum(t.n_pieces) AS DOUBLE) / sum(t.n_words), 6)
       |    AS fertility,
       |  round(CAST(sum(d.n_chars) AS DOUBLE) / sum(t.n_pieces), 6)
       |    AS chars_per_piece
       |FROM (
       |$q85OracleSql
       |) t JOIN documents d USING (doc_id)
       |GROUP BY 1""".stripMargin

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

  /** DuckDB text of the engine's cosine: sequential-fold dot product
    * over the array (list_reduce folds left in element order, matching
    * DotProduct's fold), divided by the product of the two sqrt-norms
    * in the same operation order — bit-identical IEEE doubles.
    */
  private def duckCos(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      [$a[i+1] * $b[i+1] for i in generate_series(0, len($a)-1)]),
       |      (acc, x) -> acc + x)
       |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |         [$a[i+1] * $a[i+1] for i in generate_series(0, len($a)-1)]),
       |         (acc, x) -> acc + x))
       |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |         [$b[i+1] * $b[i+1] for i in generate_series(0, len($b)-1)]),
       |         (acc, x) -> acc + x)))""".stripMargin

  /** q27's oracle: the deterministic IVF ANN pipeline replayed
    * relationally — corpus->centroid assignment (exactly q49), then
    * nProbe=2 probe selection per query, then exact cosine ranking
    * within the probed buckets. Same fixed centroids (vec_id % 97 = 3),
    * same tie-breaks (centroid/neighbor id ascending).
    */
  /** The exact-Jaccard near-dup component chain as CTE-list text
    * (shingles → thresholded pairs → recursive connected components →
    * min-label `labels`): q43 takes the min-id survivor directly;
    * q106 re-resolves survivors by the keep-longest policy over the
    * same components.
    */
  private lazy val dedupClusterCtes: String =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(t[i+1:i+3], ' ')
      |     for i in generate_series(0, greatest(len(t)-3, 0))])) AS shingle
      |  FROM toks),
      |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT p.doc_a, p.doc_b
      |  FROM cand p
      |  JOIN counts ca ON p.doc_a = ca.doc_id
      |  JOIN counts cb ON p.doc_b = cb.doc_id
      |  WHERE CAST(p.n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.n_common) >= 0.2),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |cc AS (
      |  SELECT src AS doc, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS doc, cc.lbl FROM cc JOIN edges e ON cc.doc = e.src),
      |labels AS (SELECT doc, min(lbl) AS cluster_id FROM cc GROUP BY 1)""".stripMargin

  private lazy val q43OracleSql: String =
    s"""WITH RECURSIVE $dedupClusterCtes
       |SELECT d.doc_id,
       |  coalesce(l.cluster_id, d.doc_id) AS survivor_id,
       |  coalesce(l.cluster_id, d.doc_id) = d.doc_id AS is_survivor
       |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc""".stripMargin

  /** q175's covariance/correlation chain as CTE text ending in `cm`
    * (dim_i, dim_j, n, cov_sum, corr) — q175 selects it directly,
    * q176 feeds the correlations into the power iteration.
    */
  private lazy val covMatrixCtes: String =
    """vm AS (
      |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |bd AS (
      |  SELECT i.range AS d, v[i.range + 1] AS x
      |  FROM vm, range(64) i),
      |means AS (
      |  SELECT d, CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
      |  FROM bd GROUP BY 1),
      |pairs AS (
      |  SELECT i.range AS di, j.range AS dj,
      |    (v[i.range + 1] - mi.m) * (v[j.range + 1] - mj.m) AS p
      |  FROM vm, range(64) i, range(64) j
      |  JOIN means mi ON mi.d = i.range
      |  JOIN means mj ON mj.d = j.range
      |  WHERE j.range >= i.range),
      |cov AS (
      |  SELECT di, dj, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(p) AS BIGINT) AS cov_sum
      |  FROM pairs GROUP BY 1, 2),
      |diag AS (SELECT di AS dd, cov_sum AS var_d FROM cov
      |         WHERE di = dj),
      |cm AS (
      |  SELECT CAST(c.di AS BIGINT) AS dim_i, CAST(c.dj AS BIGINT) AS dim_j,
      |    c.n, c.cov_sum,
      |    round(CAST(c.cov_sum AS DOUBLE)
      |      / sqrt(CAST(vi.var_d AS DOUBLE) * CAST(vj.var_d AS DOUBLE)), 6)
      |      AS corr
      |  FROM cov c
      |  JOIN diag vi ON c.di = vi.dd
      |  JOIN diag vj ON c.dj = vj.dd)""".stripMargin

  /** q173's oracle: the q43 component closure aggregated to the
    * cluster-size histogram.
    */
  private lazy val q173OracleSql: String =
    s"""WITH RECURSIVE $dedupClusterCtes,
       |members AS (
       |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cid
       |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
       |sizes AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM members GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM sizes GROUP BY 1""".stripMargin

  /** q106's oracle: the same components, survivor = argmax by
    * (n_chars desc, doc_id asc) per cluster.
    */
  private lazy val q106OracleSql: String =
    s"""WITH RECURSIVE $dedupClusterCtes,
       |members AS (
       |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cid, d.n_chars
       |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
       |best AS (
       |  SELECT cid, doc_id AS survivor_id FROM (
       |    SELECT cid, doc_id, row_number() OVER (PARTITION BY cid
       |      ORDER BY n_chars DESC, doc_id ASC) AS rk
       |    FROM members)
       |  WHERE rk = 1)
       |SELECT m.doc_id, b.survivor_id, b.survivor_id = m.doc_id AS is_survivor
       |FROM members m JOIN best b ON m.cid = b.cid""".stripMargin

  /** The IVF ANN relational chain as CTE-list text (ends with
    * `ranked`, carrying each probed (query, neighbor) pair's rank) —
    * q27/q100 filter it to k = 5 directly; q104 composes it against
    * the exact ranking for the recall@k evaluation.
    */
  private def ivfAnnCtesFor(queryPred: String): String =
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 97 = 3),
       |assigned AS (
       |  SELECT vec_id, centroid_id AS bucket FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${duckCos("e.v", "c.cv")}
       |        DESC, c.centroid_id ASC) AS rnk
       |    FROM e, c) WHERE rnk = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $queryPred),
       |probes AS (
       |  SELECT query_id, centroid_id AS bucket FROM (
       |    SELECT q.query_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        ${duckCos("q.qv", "c.cv")}
       |        DESC, c.centroid_id ASC) AS rnk
       |    FROM q, c) WHERE rnk <= 2),
       |scored AS (
       |  SELECT p.query_id, a.vec_id,
       |    ${duckCos("q.qv", "e.v")} AS cos
       |  FROM probes p
       |  JOIN assigned a ON p.bucket = a.bucket
       |  JOIN q ON p.query_id = q.query_id
       |  JOIN e ON a.vec_id = e.vec_id
       |  WHERE p.query_id <> a.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, vec_id ASC) AS rnk
       |  FROM scored)""".stripMargin

  private lazy val ivfAnnCtes: String = ivfAnnCtesFor("vec_id < 8")

  private lazy val q27OracleSql: String =
    s"""WITH $ivfAnnCtes
       |SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id AS neighbor_id,
       |  round(cos, 6) AS cosine
       |FROM ranked WHERE rnk <= 5""".stripMargin

  /** q104's oracle: recall@5 of the IVF ANN chain against the exact
    * cosine ranking over the same query set — both rankings replayed
    * relationally, hit count joined on (query, neighbor), recall as
    * the exact integer n_hit·1e6 // k.
    */
  private lazy val q104OracleSql: String =
    s"""WITH $ivfAnnCtes,
       |ann AS (SELECT query_id, vec_id AS neighbor_id FROM ranked
       |  WHERE rnk <= 5),
       |xscored AS (
       |  SELECT q.query_id, ce.vec_id AS neighbor_id,
       |    ${duckCos("q.qv", "ce.v")} AS cos
       |  FROM q, e ce WHERE q.query_id <> ce.vec_id),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |    FROM xscored)
       |  WHERE rnk <= 5),
       |hits AS (
       |  SELECT x.query_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM exact x JOIN ann a
       |    ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
       |  GROUP BY 1)
       |SELECT u.query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(5 AS BIGINT) AS k,
       |  CAST((coalesce(h.n_hit, 0) * 1000000) // 5 AS BIGINT) AS recall_micro
       |FROM (SELECT DISTINCT query_id FROM exact) u
       |LEFT JOIN hits h ON u.query_id = h.query_id""".stripMargin

  /** q105's oracle: the greedy MMR selection replayed as a recursive
    * CTE. Pool and candidate-pair cosines are MATERIALIZED
    * (the WITH RECURSIVE multi-consumer re-evaluation trap, PLANS.md);
    * each recursion step computes every surviving candidate's
    * 0.7·rel − 0.3·max(sim to selected) and takes the per-query
    * argmax through a lexicographic struct max over
    * (sc, −cand_id) — NOT a LATERAL subquery: correlated subqueries
    * and LATERAL bodies referencing the recursive table silently
    * return NULL / zero rows in DuckDB 1.0 (measured; PLANS.md).
    * The 0.3 literal is the exact decimal the engine uses — never
    * 1 − 0.7, which is 0.30000000000000004 in IEEE.
    */
  private lazy val q105OracleSql: String =
    s"""WITH RECURSIVE
       |e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 4),
       |relc AS MATERIALIZED (
       |  SELECT query_id, cand_id, rel FROM (
       |    SELECT q.query_id, c.vec_id AS cand_id,
       |      ${duckCos("q.qv", "c.v")} AS rel,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${duckCos("q.qv", "c.v")} DESC, c.vec_id ASC) AS rk
       |    FROM q, e c WHERE q.query_id <> c.vec_id)
       |  WHERE rk <= 20),
       |pairs AS MATERIALIZED (
       |  SELECT a.query_id, a.cand_id AS ida, b.cand_id AS idb,
       |    ${duckCos("va.v", "vb.v")} AS sim
       |  FROM relc a JOIN relc b
       |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
       |  JOIN e va ON va.vec_id = a.cand_id
       |  JOIN e vb ON vb.vec_id = b.cand_id),
       |sel AS (
       |  SELECT query_id, CAST(1 AS BIGINT) AS step, [cand_id] AS sel_ids,
       |         cand_id AS picked, 0.7 * rel - 0.3 * CAST(0 AS DOUBLE) AS mmr
       |  FROM (SELECT query_id, cand_id, rel,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY 0.7 * rel - 0.3 * CAST(0 AS DOUBLE) DESC,
       |              cand_id ASC) AS rk
       |        FROM relc)
       |  WHERE rk = 1
       |  UNION ALL
       |  SELECT query_id, step + 1, list_append(sel_ids, best.cid),
       |         best.cid, best.sc
       |  FROM (
       |    SELECT g.query_id, g.step, g.sel_ids,
       |           max(struct_pack(sc := g.sc, negid := -g.cand_id,
       |                           cid := g.cand_id)) AS best
       |    FROM (
       |      SELECT r.query_id, r.step, r.sel_ids, c.cand_id,
       |             0.7 * c.rel - 0.3 * max(pp.sim) AS sc
       |      FROM sel r
       |      JOIN relc c ON c.query_id = r.query_id
       |        AND NOT list_contains(r.sel_ids, c.cand_id)
       |      JOIN pairs pp ON pp.query_id = c.query_id
       |        AND pp.ida = c.cand_id
       |        AND list_contains(r.sel_ids, pp.idb)
       |      WHERE r.step < 5
       |      GROUP BY r.query_id, r.step, r.sel_ids, c.cand_id, c.rel
       |    ) g
       |    GROUP BY g.query_id, g.step, g.sel_ids))
       |SELECT query_id, step AS rank, picked AS doc_id,
       |  CAST(floor(1000000.0 * mmr) AS BIGINT) AS mmr_micro
       |FROM sel""".stripMargin

  /** The shared candidate-generation CTE chain for q50/q40: embeds the
    * identical hyperplane literals the engine uses
    * (Similarity.planeComponent), so DuckDB reproduces the exact
    * bucketing: margin fold order matches DotProduct's sequential fold.
    */
  private def lshCandCtes(nTables: Int): String = {
    val (dim, bits) = (64, 8)
    val planeRows = (for (t <- 0 until nTables; j <- 0 until bits) yield {
      val comps = (0 until dim)
        .map(d => Similarity.planeComponent(t * bits + j, d)).mkString(", ")
      s"($t, $j, [$comps]::DOUBLE[])"
    }).mkString(",\n")
    s"""planes(tbl, bit, p) AS (VALUES
       |$planeRows),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |m AS (
       |  SELECT e.vec_id, pl.tbl, pl.bit,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      [e.v[i+1] * pl.p[i+1] for i in generate_series(0, len(e.v)-1)]),
       |      (acc, x) -> acc + x) AS margin
       |  FROM e, planes pl),
       |b AS (
       |  SELECT vec_id, tbl,
       |    string_agg(CASE WHEN margin >= 0 THEN '1' ELSE '0' END, ''
       |      ORDER BY bit) AS bucket
       |  FROM m GROUP BY vec_id, tbl),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
       |  FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
       |  WHERE a.vec_id < b2.vec_id)""".stripMargin
  }

  private lazy val q50OracleSql: String =
    s"""WITH ${lshCandCtes(nTables = 2)}
       |SELECT id_a, id_b FROM cand""".stripMargin

  /** q40's oracle: q50's candidates verified by exact cosine at the
    * fixed 0.4 threshold — the filter applies to the FULL-precision
    * cosine (as the engine does), rounding only the emitted column.
    */
  private lazy val q40OracleSql: String =
    s"""WITH ${lshCandCtes(nTables = 4)},
       |scored AS (
       |  SELECT cand.id_a, cand.id_b,
       |    ${duckCos("ea.v", "eb.v")} AS cos
       |  FROM cand
       |  JOIN e ea ON cand.id_a = ea.vec_id
       |  JOIN e eb ON cand.id_b = eb.vec_id)
       |SELECT id_a, id_b, round(cos, 6) AS cosine
       |FROM scored WHERE cos >= 0.4""".stripMargin
}
