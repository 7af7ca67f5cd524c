package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item-item collaborative filtering over a (user, item) interaction
  * table — the classic neighborhood recommender (Sarwar et al., WWW'01)
  * in exact integer form:
  *
  *  - similarity: cosine over binary user-incidence vectors, which
  *    collapses to |U_a ∩ U_b| / √(|U_a|·|U_b|) — the dot product IS
  *    the common-user COUNT, so everything before the final
  *    micro-rounding is BIGINT, and the one sqrt/division per pair is
  *    the same fixed expression on any engine (identical doubles in →
  *    identical rounded micro out).
  *  - scoring: a candidate item's score is the SUM of its rounded
  *    sim_micro links to the user's items — an order-free BIGINT sum,
  *    so the top-k ranking is exactly replayable (summing raw floats
  *    would not be).
  *
  * Scale shape: pair generation is user-bucketed (items sharing a
  * user; fan-out = per-user basket², the q207 posture) and
  * `minSupport` keeps the pair table bounded — a threshold-1 pair
  * graph explodes with the corpus, support ≥ s doesn't. Scoring joins
  * the (small) panel's items against the pair table; ownership is
  * removed by an anti join, ranks run per panel user.
  */
object Recommend {

  /** Canonical (item_a < item_b) similarity pairs with the common-user
    * support and cosine in exact micro.
    *
    * `maxItemsPerUser` caps the per-user basket BEFORE the self-join —
    * pair generation is O(basket²) per user, so one power user at
    * production scale quadratically explodes a single key (the same
    * hot-key discipline as Dedup's `maxBandSize`/`maxDf`). The kept
    * subset is a deterministic pseudo-random sample (xxhash64 of
    * (user, item) orders the basket — reproducible across engines,
    * partitionings and reruns, unbiased w.r.t. item identity); users
    * at or under the cap are untouched, so capped and uncapped results
    * coincide exactly below the cap (spec-pinned). `n_users` is still
    * counted on the FULL interaction table, so cosine denominators are
    * exact — only the intersection counts of capped users are sampled.
    *
    * The default is EXACT (no cap): a cap silently turns intersection
    * counts into lower bounds, which a caller must opt into knowingly.
    * At production scale pass an explicit cap (500 holds the `ScaleProbe
    * skew` power-user corpus at 1.1× task skew where uncapped rides 13.3×).
    */
  def itemItemSim(ui: DataFrame, userCol: String, itemCol: String,
                  minSupport: Long = 2L,
                  maxItemsPerUser: Int = Int.MaxValue): DataFrame = {
    require(maxItemsPerUser >= 1, "maxItemsPerUser must be >= 1")
    // NULL users and items are no interaction: dropped here rather than
    // left to the inner joins on the item counts below
    val interAll = ui.select(col(userCol).as("u"), col(itemCol).as("it"))
      .filter(col("u").isNotNull && col("it").isNotNull)
      .distinct()
    val counts = interAll.groupBy(col("it")).agg(count(lit(1)).as("n_users"))
    // uncapped ⇒ skip the rank window entirely (no per-user sort paid
    // for the exact default path)
    val inter = if (maxItemsPerUser == Int.MaxValue) interAll else {
      val wCap = Window.partitionBy("u")
        .orderBy(xxhash64(col("u").cast("string"), col("it").cast("string")),
          col("it"))
      interAll
        .withColumn("__r", row_number().over(wCap))
        .filter(col("__r") <= maxItemsPerUser)
        .drop("__r")
    }
    // Pair generation via collect-basket + the PairCombinations
    // generator (the inverted-index shape of Dedup.ngramJaccardPairs)
    // instead of a self-equi-join on the user: the self-join planned
    // the WHOLE `inter` lineage twice (scan→distinct→cap window per
    // side) and paid two user-keyed exchanges plus the pair exchange;
    // this groups once on `u` — on the capped path the SAME
    // partitioning the cap window just established, so the basket
    // aggregation adds NO exchange — and emits each basket's d(d−1)/2
    // ordered pairs in one generator pass (guide §2.4: remove shuffles
    // outright). sort_array on struct(it) sorts by item, so pairs come
    // out item_a < item_b exactly like the old x.it < y.it predicate;
    // per-user baskets are distinct items, so strictness is preserved.
    val pairs = inter.groupBy("u")
      .agg(sort_array(collect_list(struct(col("it")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(org.apache.spark.sql.GraftShim.column(
        graft.expressions.PairCombinations(
          org.apache.spark.sql.GraftShim.expression(col("ds"))))
        .as(Seq("item_a", "item_b")))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minSupport)
    pairs
      .join(counts.select(col("it").as("item_a"), col("n_users").as("na")),
        Seq("item_a"))
      .join(counts.select(col("it").as("item_b"), col("n_users").as("nb")),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("common"),
        expr("""CAST(round(CAST(common AS DOUBLE)
                / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
                * 1000000.0) AS BIGINT)""").as("sim_micro"))
  }

  /** Top-k unseen items per panel user: score = Σ sim_micro over the
    * user's owned items' links (exact BIGINT), ties by item id.
    */
  def recommendTopK(ui: DataFrame, sims: DataFrame, panel: DataFrame,
                    userCol: String, itemCol: String, k: Int): DataFrame = {
    // owned is read twice (scoring join + ownership anti join) and
    // sims twice (both directions of the undirected link view) — each
    // reference re-plans its full upstream lineage (for sims, the
    // whole pair generation). Both tables are small by construction
    // (owned is panel-filtered; sims is support-thresholded), so
    // materialize once and read the snapshot twice (guide §5;
    // localCheckpoint as the cheap lineage cut).
    val owned = Materialize.localCheckpoint(
      ui.select(col(userCol).as("u"), col(itemCol).as("it"))
        .distinct()
        .join(panel.select(col(userCol).as("u")).distinct(), Seq("u"),
          "left_semi"))
    val simsM = Materialize.localCheckpoint(sims)
    // undirected links: each pair contributes in both directions
    val links = simsM.select(col("item_a").as("it"),
        col("item_b").as("cand"), col("sim_micro"))
      .unionAll(simsM.select(col("item_b").as("it"),
        col("item_a").as("cand"), col("sim_micro")))
    val scored = owned.join(links, Seq("it"))
      .groupBy(col("u"), col("cand"))
      .agg(sum("sim_micro").as("score_micro"), count(lit(1)).as("n_links"))
      .join(owned.select(col("u"), col("it").as("cand")),
        Seq("u", "cand"), "left_anti")
    val w = Window.partitionBy("u")
      .orderBy(col("score_micro").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("u").as(userCol), col("rank"), col("cand").as(itemCol),
        col("score_micro"), col("n_links"))
  }
}
