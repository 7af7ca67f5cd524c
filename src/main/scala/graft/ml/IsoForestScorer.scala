package graft.ml

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** StandardScaler + IsolationForest scoring (SURVEY §2.9 M2) — the
  * reference's `pipeline.predict` / `decision_function`
  * (`/root/reference/function-app/ml_forecast_anomaly.py:218-222`),
  * re-implemented from the model artifact's exported parameters
  * (`tools/export_isoforest.py` -> `isoforest_model.json`: 200 trees,
  * max_samples 256, contamination 0.05, sklearn 1.2.2).
  *
  * Scoring math (public sklearn formulas):
  *   per tree: leaf depth + c(n_node_samples(leaf)), with
  *   c(n) = 2(ln(n−1)+γ) − 2(n−1)/n (Liu et al., "Isolation Forest").
  *   score(x)    = 2^( −Σ_depths / (n_trees · c(max_samples)) )
  *   decision(x) = −score(x) − offset;  anomaly ⇔ decision < 0.
  *
  * The flattened tree ensemble (~150k int/double array slots) is
  * broadcast once per SparkContext (the first `scoreFeatures` call's
  * broadcast serves every later call); scoring is a Scala UDF —
  * O(avg depth · 200) per row, embarrassingly parallel, no shuffle. A
  * UDF (not a codegen'd Expression) is the right cost point here: the
  * array-walk dominates and boxing overhead is one struct per row.
  */
object IsoForestScorer {

  /** Euler–Mascheroni constant (c(n) normalization). */
  private val Gamma = 0.5772156649015329

  final case class Tree(left: Array[Int], right: Array[Int], feature: Array[Int],
                        threshold: Array[Double], nNodeSamples: Array[Int])

  final case class Model(featureNames: Array[String], mean: Array[Double],
                         scale: Array[Double], trees: Array[Tree],
                         maxSamples: Int, offset: Double) {
    val cNorm: Double = avgPathLength(maxSamples)

    def decisionFunction(x: Array[Double]): Double = {
      val xs = new Array[Double](x.length)
      var i = 0
      while (i < x.length) { xs(i) = (x(i) - mean(i)) / scale(i); i += 1 }
      var depths = 0.0
      var t = 0
      while (t < trees.length) {
        depths += trees(t).pathDepth(xs)
        t += 1
      }
      val score = math.pow(2.0, -depths / (trees.length * cNorm))
      -score - offset
    }
  }

  implicit final class TreeOps(private val t: Tree) extends AnyVal {
    def pathDepth(x: Array[Double]): Double = {
      var node = 0
      var depth = 0
      while (t.left(node) != -1) {
        node = if (x(t.feature(node)) <= t.threshold(node)) t.left(node) else t.right(node)
        depth += 1
      }
      depth + avgPathLength(t.nNodeSamples(node))
    }
  }

  def avgPathLength(n: Int): Double =
    if (n <= 1) 0.0
    else if (n == 2) 1.0
    else 2.0 * (math.log(n - 1.0) + Gamma) - 2.0 * (n - 1.0) / n

  /** Load the exported model from the bundled resource (or a path). */
  lazy val bundled: Model = {
    val in = getClass.getResourceAsStream("/isoforest_model.json")
    require(in != null, "isoforest_model.json missing from resources")
    try parse(new ObjectMapper().readTree(in)) finally in.close()
  }

  def parse(root: JsonNode): Model = {
    def ints(n: JsonNode): Array[Int] = {
      val a = new Array[Int](n.size); var i = 0
      while (i < a.length) { a(i) = n.get(i).asInt; i += 1 }; a
    }
    def doubles(n: JsonNode): Array[Double] = {
      val a = new Array[Double](n.size); var i = 0
      while (i < a.length) { a(i) = n.get(i).asDouble; i += 1 }; a
    }
    val trees = (0 until root.get("trees").size).map { i =>
      val t = root.get("trees").get(i)
      Tree(ints(t.get("left")), ints(t.get("right")), ints(t.get("feature")),
        doubles(t.get("threshold")), ints(t.get("n_node_samples")))
    }.toArray
    Model(
      (0 until root.get("feature_names").size).map(root.get("feature_names").get(_).asText).toArray,
      doubles(root.get("scaler_mean")), doubles(root.get("scaler_scale")),
      trees, root.get("max_samples").asInt, root.get("offset").asDouble)
  }

  /** Deterministic, library-constant isolation forest for the q89
    * oracle gate: `numTrees` complete binary trees of `depth` in heap
    * layout (left = 2i+1, right = 2i+2), every parameter
    * integer-derived —
    *   feature(t, i)   = (t*7 + i*3) % 4
    *   threshold(t, i) = (((t*31 + i*17) % 201) - 100) / 50.0
    *   n_samples(leaf) = 2 + (t*13 + i*7) % 120
    * — so the DuckDB oracle REGENERATES the identical ensemble
    * arithmetically (a recursive CTE walks the same heap) instead of
    * embedding ~1000 literals. Scoring goes through the exact
    * `decisionFunction` path q28's production model uses, so the
    * oracle transitively pins the traversal + c(n) + 2^(-x) math.
    */
  def fixedModel(numTrees: Int = 16, depth: Int = 5): Model = {
    val internal = (1 << depth) - 1
    val total = (1 << (depth + 1)) - 1
    val trees = Array.tabulate(numTrees) { t =>
      Tree(
        left = Array.tabulate(total)(i => if (i < internal) 2 * i + 1 else -1),
        right = Array.tabulate(total)(i => if (i < internal) 2 * i + 2 else -1),
        feature = Array.tabulate(total)(i => if (i < internal) (t * 7 + i * 3) % 4 else -2),
        threshold = Array.tabulate(total)(i =>
          if (i < internal) (((t * 31 + i * 17) % 201) - 100) / 50.0 else 0.0),
        nNodeSamples = Array.tabulate(total)(i =>
          if (i >= internal) 2 + (t * 13 + i * 7) % 120 else 0))
    }
    Model(Array("f0", "f1", "f2", "f3"),
      mean = Array(48.0, 49.0, 50.0, 51.0),
      scale = Array(28.0, 29.0, 30.0, 31.0),
      trees = trees, maxSamples = 256, offset = -0.5)
  }

  lazy val fixedEnsemble: Model = fixedModel()

  /** Deterministic gate features from an integer id: exact integer
    * arithmetic divided by 10.0 — bit-identical across engines.
    * Mirrored textually inside `fixedOracleSql`.
    */
  def fixedFeatures(df: DataFrame, id: Column): DataFrame =
    df.withColumn("f0", ((id * 17 + 3) % 1000) / lit(10.0))
      .withColumn("f1", ((id * 29 + 7) % 1000) / lit(10.0))
      .withColumn("f2", ((id * 41 + 11) % 1000) / lit(10.0))
      .withColumn("f3", ((id * 53 + 13) % 1000) / lit(10.0))

  /** The q89 oracle: the fixed ensemble regenerated and walked
    * relationally in DuckDB — a recursive CTE descends the heap
    * (same integer formulas as `fixedModel`), leaf depths get the
    * same c(n) correction, and the per-doc score is
    * -2^(-Σdepths/(T·c(256))) - offset. Tree-path arithmetic is
    * all-integer (bit-identical across engines); ln/pow ulp and the
    * unordered 16-way sum are absorbed by the shared round(..., 6).
    */
  def fixedOracleSql(numTrees: Int = 16, depth: Int = 5): String = {
    val internal = (1 << depth) - 1
    val m = fixedEnsemble
    val cNorm = m.cNorm
    s"""WITH RECURSIVE feats AS (
       |  SELECT doc_id,
       |    [ ((doc_id * 17 + 3) % 1000) / 10.0,
       |      ((doc_id * 29 + 7) % 1000) / 10.0,
       |      ((doc_id * 41 + 11) % 1000) / 10.0,
       |      ((doc_id * 53 + 13) % 1000) / 10.0 ] AS x
       |  FROM documents),
       |zs AS (
       |  SELECT doc_id,
       |    [ (x[1] - 48.0) / 28.0, (x[2] - 49.0) / 29.0,
       |      (x[3] - 50.0) / 30.0, (x[4] - 51.0) / 31.0 ] AS z
       |  FROM feats),
       |walk AS (
       |  SELECT doc_id, t.range AS tree, CAST(0 AS BIGINT) AS node,
       |    0 AS depth, z
       |  FROM zs, range($numTrees) t
       |  UNION ALL
       |  SELECT doc_id, tree,
       |    CASE WHEN z[CAST((tree * 7 + node * 3) % 4 AS INT) + 1]
       |              <= (((tree * 31 + node * 17) % 201) - 100) / 50.0
       |         THEN 2 * node + 1 ELSE 2 * node + 2 END,
       |    depth + 1, z
       |  FROM walk
       |  WHERE node < $internal),
       |paths AS (
       |  SELECT doc_id, tree, depth,
       |    2 + (tree * 13 + node * 7) % 120 AS n
       |  FROM walk WHERE node >= $internal),
       |scored AS (
       |  SELECT doc_id,
       |    sum(depth + CASE WHEN n = 2 THEN 1.0
       |      ELSE 2.0 * (ln(n - 1.0) + 0.5772156649015329)
       |           - 2.0 * (n - 1.0) / n END) AS depths
       |  FROM paths GROUP BY 1)
       |SELECT doc_id,
       |  round(-pow(2.0, -depths / ($numTrees * ${ProphetScorer.sqlLit(cNorm)}))
       |        - (${ProphetScorer.sqlLit(m.offset)}), 6) AS score
       |FROM scored""".stripMargin
  }

  /** The q28 oracle: the REAL 200-tree sklearn export walked
    * relationally in DuckDB. The model artifact is STAGED AS A
    * RELATIONAL TABLE (read_json of the same resource file the JVM
    * scorer loads → one row per tree node), a recursive CTE descends
    * every (user, day, tree) from the root, leaf depths get the same
    * c(n) correction, and the per-row score is
    * -2^(-Σdepths/(200·c(256))) - offset — the exact
    * `decisionFunction` math. Features come from the exact-micro
    * pipeline ([[graft.core.TimeSeries.anomalyFeaturesExactMicro]]):
    * every float both engines compare against a split threshold is
    * derived from exact integers by correctly-rounded ops, and the
    * scaler/threshold doubles parse from the SAME json text on both
    * sides — so all ~8M branch decisions are bit-identical by
    * construction. Only ln/pow ulp and the unordered 200-way depth
    * sum differ, absorbed by the shared round(..., 6) (the q89
    * argument, now on the production artifact).
    */
  def realOracleSql(modelPath: String =
      "/root/repo/src/main/resources/isoforest_model.json"): String = {
    val m = bundled
    // the one denominator double, computed HERE exactly as
    // decisionFunction does (trees.length * cNorm) and inlined
    val den = ProphetScorer.sqlLit(m.trees.length * m.cNorm)
    val off = ProphetScorer.sqlLit(m.offset)
    val score = s"-pow(2.0, -s.depths / CAST($den AS DOUBLE)) " +
      s"- CAST($off AS DOUBLE)"
    s"""WITH RECURSIVE model AS (
       |  SELECT scaler_mean AS mu, scaler_scale AS sc, trees
       |  FROM read_json('$modelPath')),
       |trees AS (
       |  SELECT unnest(generate_series(1, len(trees))) - 1 AS tree_id,
       |    unnest(trees) AS tree
       |  FROM model),
       |nodes AS (
       |  SELECT tree_id,
       |    unnest(generate_series(1, len(tree.left))) - 1 AS node,
       |    unnest(tree.left) AS lft, unnest(tree.right) AS rgt,
       |    unnest(tree.feature) AS feat, unnest(tree.threshold) AS thr,
       |    unnest(tree.n_node_samples) AS n
       |  FROM trees),
       |ev AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |    CAST(floor(value * 10000.0) AS BIGINT) AS vm, event_type
       |  FROM events),
       |daily AS (
       |  SELECT user_id, d, CAST(sum(vm) AS BIGINT) AS tm,
       |    count(DISTINCT event_type) AS ua
       |  FROM ev GROUP BY 1, 2),
       |spine AS (
       |  SELECT user_id,
       |    CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
       |  FROM (SELECT user_id, min(d) AS lo, max(d) AS hi
       |        FROM daily GROUP BY 1)),
       |dense AS (
       |  SELECT s.user_id, s.d, coalesce(dy.tm, 0) AS tm,
       |    coalesce(dy.ua, 0) AS ua
       |  FROM spine s
       |  LEFT JOIN daily dy ON s.user_id = dy.user_id AND s.d = dy.d),
       |feat AS (
       |  SELECT user_id, d, tm, ua,
       |    CAST(tm AS DOUBLE) / 1000000.0 AS total_kwh,
       |    CAST(ua AS DOUBLE) AS unique_appliances,
       |    (CAST(sum(tm) OVER w AS DOUBLE) / 1000000.0)
       |      / count(*) OVER w AS rolling_7_mean,
       |    CAST(isodow(d) - 1 AS DOUBLE) AS dow
       |  FROM dense
       |  WINDOW w AS (PARTITION BY user_id ORDER BY d
       |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
       |z AS (
       |  SELECT f.user_id, f.d,
       |    [ (total_kwh - mu[1]) / sc[1],
       |      (unique_appliances - mu[2]) / sc[2],
       |      (rolling_7_mean - mu[3]) / sc[3],
       |      (dow - mu[4]) / sc[4] ] AS zz
       |  FROM feat f CROSS JOIN model),
       |walk AS (
       |  SELECT z.user_id, z.d, n.tree_id, CAST(0 AS BIGINT) AS node,
       |    0 AS depth
       |  FROM z CROSS JOIN (SELECT DISTINCT tree_id FROM nodes) n
       |  UNION ALL
       |  SELECT w.user_id, w.d, w.tree_id,
       |    CAST(CASE WHEN z.zz[CAST(nd.feat AS INT) + 1] <= nd.thr
       |         THEN nd.lft ELSE nd.rgt END AS BIGINT),
       |    w.depth + 1
       |  FROM walk w
       |  JOIN nodes nd ON nd.tree_id = w.tree_id AND nd.node = w.node
       |  JOIN z ON z.user_id = w.user_id AND z.d = w.d
       |  WHERE nd.lft <> -1),
       |leaves AS (
       |  SELECT w.user_id, w.d, w.depth, nd.n
       |  FROM walk w JOIN nodes nd
       |    ON nd.tree_id = w.tree_id AND nd.node = w.node
       |  WHERE nd.lft = -1),
       |scored AS (
       |  SELECT user_id, d,
       |    sum(depth + CASE WHEN n <= 1 THEN 0.0 WHEN n = 2 THEN 1.0
       |      ELSE 2.0 * (ln(n - 1.0) + 0.5772156649015329)
       |           - 2.0 * (n - 1.0) / n END) AS depths
       |  FROM leaves GROUP BY 1, 2)
       |SELECT f.user_id, f.d, f.tm AS total_kwh_micro,
       |  CAST(f.ua AS BIGINT) AS unique_types,
       |  round($score, 6) AS score,
       |  ($score) < 0.0 AS anomaly
       |FROM scored s
       |JOIN feat f ON s.user_id = f.user_id AND s.d = f.d""".stripMargin
  }

  /** Append `score` (decision_function) and `anomaly` columns.
    * Feature columns must match the model's training order
    * ([total_kwh, unique_appliances, rolling_7_mean, dow]).
    */
  def scoreFeatures(df: DataFrame, features: Seq[String] = Seq(
      "total_kwh", "unique_appliances", "rolling_7_mean", "dow"),
      model: Model = bundled): DataFrame = {
    val bc = ContextBroadcast(df.sparkSession.sparkContext, model)(model)
    val scoreUdf = udf { (a: Double, b: Double, c: Double, d: Double) =>
      bc.value.decisionFunction(Array(a, b, c, d))
    }
    val cols: Seq[Column] = features.map(f => col(f).cast("double"))
    df.withColumn("score", scoreUdf(cols(0), cols(1), cols(2), cols(3)))
      .withColumn("anomaly", col("score") < 0.0)
  }
}
