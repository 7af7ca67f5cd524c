package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import Shared._

/** Queries, each with its DuckDB oracle, for relational operator shapes
  * over the TPC-H tables and `events` (filters, joins, set operations,
  * windows, pivots, as-of joins), the TPC-H query family, and the
  * co-purchase graph queries.
  */
private[graft] object RelationalQueries extends QueryDomain {

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

    // fuzzy entity linkage over the part catalog: rows collapse to
    // distinct names first (pairing runs entity x entity, never
    // row x row), block on the first name token, edit distance <= 4
    "q159_fuzzy_linkage" -> ((s, dir) =>
      Joins.fuzzyLinkPairs(Tables.load(s, dir, "part"), "p_name",
        split(col("entity"), " ").getItem(0), maxDist = 4)),

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

    // AMS tug-of-war F2 sketch over part-key frequencies: 5x16
    // median-of-means with portable-hash signs, exact F2 beside the
    // estimate — the moment member of the sketch family (CMS q98,
    // HLL q206, KMV q218, Bloom q122)
    "q291_ams_f2" -> ((s, dir) =>
      Sketches.amsF2(Tables.lineitem(s, dir), col("l_partkey"))),

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

    // k-core of the part co-purchase graph (q207's edge builder):
    // 6 fixed peeling rounds — enough to reach the fixpoint at every
    // SF (spec-pinned); fixed rounds keep the round count itself
    // inside the oracle (the q157 unrolled-iteration discipline).
    // Output: surviving vertices with their within-core degree
    "q221_kcore" -> ((s, dir) => {
      GraphOps.kCore(coPurchaseEdges(s, dir), "a", "b", k = 2, rounds = 6)
    })
  )

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

    "q48_asof_native" -> AsofOracleSql,

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

    "q42_asof_join" -> AsofOracleSql,

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

    // the salted join must reproduce the PLAIN join's row multiset —
    // the oracle is the unsalted join, aggregated identically
    "q97_salted_join" ->
      """SELECT p_brand, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

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

    // q207: the naive a<b<c chain join is fine as an ORACLE (DuckDB,
    // 60k rows); the engine side uses the degree-ordered orientation
    // — both count the same set exactly
    "q207_triangle_census" ->
      s"""$basketPairsCtes
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

    // q262: melt == the grouped long-form sums directly (absent
    // (dow, type) cells are dropped on both sides)
    "q262_unpivot" ->
      """SELECT isodow(CAST(ts AS DATE)) - 1 AS dow, event_type,
        |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS total_micro
        |FROM events
        |WHERE event_type IN ('click','error','purchase','signup','view')
        |GROUP BY 1, 2""".stripMargin,

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

    // q291: the whole sketch replayed — frequency table, the 80-cell
    // spine, the avalanche sign hash per (key, i, j), signed sums,
    // squared means, the exact rank-3 median
    "q291_ams_f2" ->
      s"""WITH freq AS (
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
        |$h1H2Ctes
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

    // q242: the q207 edge builder + the same draw chain (rolling fold
    // → q206 avalanche → rank map), anti join, first-k-in-draw-order
    "q242_negative_edges" ->
      s"""$basketPairsCtes
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

    // q221: 6 unrolled peeling rounds (degree → keep → filter)
    "q221_kcore" -> KCoreOracleSql
  )

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
    s"""$basketPairsCtes
       |e0 AS MATERIALIZED (
       |  SELECT a, b FROM pairs GROUP BY a, b HAVING count(*) >= 2),
       |$rounds
       |SELECT v, CAST(count(*) AS BIGINT) AS core_degree FROM (
       |  SELECT a AS v FROM e6 UNION ALL SELECT b FROM e6)
       |GROUP BY v""".stripMargin
  }

  /** Shared by q42 (composed as-of) and q48 (custom-plan as-of): both
    * implementations must match DuckDB's native ASOF JOIN.
    */
  private val AsofOracleSql =
    """WITH o AS (
      |  SELECT o_custkey, o_orderdate, max(o_totalprice) AS best_price
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS d,
      |  CAST(o.o_orderdate AS DATE) AS order_d,
      |  round(o.best_price, 2) AS best_price
      |FROM events e ASOF LEFT JOIN o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin

  /** CTEs `basket`, `pairs` shared by the q207, q221 and q242 oracles. */
  private lazy val basketPairsCtes: String =
    """WITH basket AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (
      |  SELECT b1.p AS a, b2.p AS b FROM basket b1
      |  JOIN basket b2 ON b1.o = b2.o AND b1.p < b2.p),""".stripMargin
}
