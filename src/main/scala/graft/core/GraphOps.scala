package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over edge tables — the TextRank/PageRank family.
  *
  * The power iteration is formulated entirely in BIGINT fixed-point:
  * each vertex starts with `initPico` mass, one step is
  *   r'(v) = 0.15·init + 85 · (Σ_{(u,v)∈E} r(u) DIV deg(u)) DIV 100
  * with every division a positive-integer floor — so a fixed
  * iteration count is EXACTLY replayable in any engine (the DuckDB
  * oracle unrolls the same arithmetic), unlike float PageRank whose
  * sum order drifts. The per-contribution floor loses < deg(u) pico
  * per vertex per step — noise at the 1e12 scale, and identical noise
  * on both engines, which is what the gate hashes.
  *
  * Scale posture: edges/degrees/ranks are all vertex- or edge-bounded
  * tables (for TextRank, the token vocabulary — model-size, the
  * vocab-numbering precedent); each iteration is one equi-join +
  * one map-side-combinable grouped sum, shuffling (vertex, long)
  * pairs only. `iters` is fixed and small (PageRank converges
  * geometrically at damping 0.85). For vertex counts beyond ~1e5,
  * shrink `initPico` so Σ r(u) stays well under 2^63.
  */
object GraphOps {

  /** Integer PageRank over a directed edge list (duplicates ignored);
    * damping fixed at 0.85 in integer percent. Returns (v, r) for
    * every vertex appearing in any edge.
    *
    * Dangling-vertex note: vertices with no out-edges contribute
    * nothing back each iteration (their mass is DROPPED, not
    * redistributed uniformly as in the original PageRank paper), so
    * rank totals deflate on general digraphs with sinks. This is
    * intentional for the [[textrankKeywords]] consumer — its co-occurrence
    * graph is symmetrized, so every vertex has out-edges and the two
    * formulations coincide. Callers ranking general directed graphs
    * who need conserved mass should add self-loops for sinks or
    * normalize ranks after the fact.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, initPico: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val verts = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
    val baseL = initPico * 15L / 100L
    var ranks = verts.withColumn("r", lit(initPico))
    for (_ <- 1 to iters) {
      val contribs = ranks.select(col("v").as("src"), col("r"))
        .join(e, "src").join(deg, "src")
        .select(col("dst").as("v"), expr("r DIV deg").as("c"))
        .groupBy("v").agg(sum("c").as("cin"))
      ranks = verts.join(contribs, Seq("v"), "left")
        .select(col("v"),
          expr(s"${baseL}L + 85 * coalesce(cin, 0L) DIV 100").as("r"))
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a directed
    * edge list — PageRank's bipartite-flavored sibling: an authority
    * is endorsed by good hubs (a = Σ h over in-edges), a hub endorses
    * good authorities (h = Σ a over out-edges). On a buyer→item graph
    * this is exactly "influential buyers / canonical items".
    *
    * Integer determinism: scores live on the 1e6 lattice and each
    * half-iteration renormalizes by the CURRENT MAX (L∞, one floor
    * DIV) instead of the textbook L2 norm — same fixed point
    * direction, no sqrt, bit-exact in any engine, and the oracle
    * unrolls the iterations verbatim (the q157 integer-PageRank
    * discipline). `iters` is fixed and small.
    *
    * Scale shape: per iteration two edge equi-joins + two grouped
    * sums (linear in |E|), two scalar max aggregates broadcast back.
    * Nothing corpus-sized sorts; duplicate edges collapse up front.
    *
    * Output: ('hub', v, score_micro) for every out-edge vertex and
    * ('auth', v, score_micro) for every in-edge vertex — kinds kept
    * as rows, not columns, so hub/authority id spaces may overlap or
    * even be disjoint (bipartite graphs) without null noise.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame = Materialize.scope {
    require(iters >= 1, "iters must be >= 1")
    // persist: every half-iteration (and each scalar max) re-reads the
    // edge table — without the cache the upstream join/distinct would
    // recompute ~4x per iteration
    val e = Materialize.persist(
      edges.select(col(srcCol).as("s"), col(dstCol).as("d")).distinct())
    // loud guard: an empty edge table would surface later as a bare
    // NPE on the first scalar max (agg(max) over zero rows is a NULL
    // row) — fail here with the actual problem named (ADVICE r12)
    require(!e.isEmpty, "hits: edge table is empty — nothing to rank")
    var hub = e.select(col("s")).distinct()
      .withColumn("h", lit(1000000L))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // localCheckpoint each half-step: the score tables are
      // vertex-sized, and truncating lineage here keeps the scalar
      // max from re-running every PRIOR iteration as a nested
      // subplan (the q274 per-level discipline — without it each
      // normalization branch re-executes the chain above it)
      val aRaw = Materialize.localCheckpoint(
        e.join(hub, "s").groupBy("d").agg(sum("h").as("ar")))
      val am = aRaw.agg(max("ar")).head().getLong(0)
      auth = aRaw.select(col("d"),
        expr(s"ar * 1000000L DIV ${am}L").as("a"))
      val hRaw = Materialize.localCheckpoint(
        e.join(auth, "d").groupBy("s").agg(sum("a").as("hr")))
      val hm = hRaw.agg(max("hr")).head().getLong(0)
      hub = hRaw.select(col("s"),
        expr(s"hr * 1000000L DIV ${hm}L").as("h"))
    }
    val out = hub.select(lit("hub").as("kind"), col("s").as("v"),
        col("h").as("score_micro"))
      .unionByName(auth.select(lit("auth").as("kind"),
        col("d").as("v"), col("a").as("score_micro")))
    // vertex-sized result; release the edge cache before returning
    Materialize.localCheckpoint(out)
  }

  /** Semi-supervised label propagation over a directed neighbor list
    * (Zhu & Ghahramani's LP in its majority-vote form): seeds keep
    * their labels forever; every other vertex takes, per iteration,
    * the majority label of its neighbors' CURRENT labels (vote count
    * desc, label asc — deterministic), keeping its previous value
    * when no neighbor is labeled yet. The auto-labeling workhorse:
    * a small labeled set + a kNN graph labels the rest of a corpus.
    *
    * Edge rows are (vCol, uCol) = "u is a neighbor of v" (u's label
    * votes for v). Each iteration is one equi-join + one grouped
    * count + a per-vertex rank window — linear in |E|, no state
    * beyond the (vertex, label) table; `iters` is fixed and small
    * (labels stop moving once the graph is covered).
    *
    * Output: (v, lbl nullable, is_seed) for every vertex appearing
    * on either edge side (u-side-only vertices must be in the label
    * table too — their labels are what votes).
    */
  def labelPropagate(edges: DataFrame, vCol: String, uCol: String,
                     seeds: DataFrame, seedV: String, seedLabel: String,
                     iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col(vCol).as("v"), col(uCol).as("u"))
    val seedTbl = seeds
      .select(col(seedV).as("v"), col(seedLabel).as("seed_lbl"))
    val verts = e.select("v")
      .union(e.select(col("u").as("v"))).distinct()
      .join(seedTbl, Seq("v"), "left")
      .withColumn("is_seed", col("seed_lbl").isNotNull)
    var labels = verts.withColumn("lbl", col("seed_lbl"))
      .select("v", "lbl", "is_seed")
    for (_ <- 1 to iters) {
      val votes = e
        .join(labels.select(col("v").as("u"), col("lbl").as("u_lbl")), "u")
        .filter(col("u_lbl").isNotNull)
        .groupBy("v", "u_lbl").agg(count(lit(1)).as("votes"))
      val win = Window.partitionBy("v").orderBy(desc("votes"), asc("u_lbl"))
      val prop = votes.withColumn("r", row_number().over(win))
        .filter(col("r") === 1)
        .select(col("v"), col("u_lbl").as("prop"))
      labels = labels.join(prop, Seq("v"), "left")
        .withColumn("lbl", when(col("is_seed"), col("lbl"))
          .otherwise(coalesce(col("prop"), col("lbl"))))
        .select("v", "lbl", "is_seed")
    }
    labels
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04):
    * adjacent-token co-occurrence edges, symmetrized, ranked by
    * [[pageRank]]; top-k tokens by (score desc, token asc). The
    * vertex table is vocabulary-sized (1e8+ types on web text), so the
    * top-k is orderBy+limit (TakeOrderedAndProject: per-partition
    * top-k + driver merge) and only the bounded k rows are ranked —
    * never an unpartitioned window over the full vocabulary.
    */
  def textrankKeywords(docs: DataFrame, textCol: String, iters: Int,
                       k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(TextAnalysis.tokens(col(textCol)).as("a"))
    val bi = toks.filter(size(col("a")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS w1, a[i+1] AS w2))"))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
    val undirected = bi.select(col("w1").as("src"), col("w2").as("dst"))
      .union(bi.select(col("w2").as("src"), col("w1").as("dst")))
    val pr = pageRank(undirected, "src", "dst", iters)
    pr.orderBy(desc("r"), asc("v")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("r"), asc("v"))))
      .select(col("rank").cast("long").as("rank"),
        col("v").as("token"), col("r").as("score_pico"))
  }

  /** Exact triangle / wedge census of an undirected graph given as
    * id-canonical edges (`aCol` < `bCol`, one row per edge). Returns
    * one row: `n_edges`, `n_wedges` (paths of length 2, the global-
    * clustering denominator), `n_triangles`.
    *
    * Triangles use the degree-ordered orientation: each edge is
    * directed from its lower (degree, id) endpoint, wedges are joined
    * only at each triangle's unique minimum vertex, and the closing
    * edge is matched against the canonical edge set. The total order
    * makes the oriented graph acyclic, so every triangle is counted
    * exactly once — and, the 100 TB point, out-degrees are bounded by
    * O(sqrt(E)) (a vertex keeps an out-edge only toward HIGHER-degree
    * neighbors), so the wedge join's per-key fan-out never explodes on
    * hubs the way a naive a<b<c chain join does on a skewed graph.
    * Everything shuffles (long, long) pairs; no driver state.
    */
  def triangleStats(edges0: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges0.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    // orient from the smaller (degree, id) endpoint; ties fall to the
    // id order, which is a < b by canonicalization
    val fromA = col("da") < col("db") || col("da") === col("db")
    val oriented = withDeg.select(
      when(fromA, col("a")).otherwise(col("b")).as("src"),
      when(fromA, col("b")).otherwise(col("a")).as("dst"))
    val cand = oriented.as("o1").join(oriented.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
      .select(col("o1.dst").as("a"), col("o2.dst").as("b"))
    val nTri = cand.join(e, Seq("a", "b"))
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val nWedges = deg.agg(
      sum(expr("d * (d - 1L) DIV 2")).as("n_wedges"))
    nEdges.crossJoin(nWedges).crossJoin(nTri)
  }

  /** Adamic-Adar link prediction over an undirected edge table — the
    * classic common-neighbor score that weights RARE shared neighbors
    * higher than hubs (Adamic & Adar 2003):
    *
    *   AA(u,v) = Σ_{w ∈ N(u) ∩ N(v)} 1 / ln(deg(w))
    *
    * Every wedge center w has deg(w) ≥ 2 by construction (it connects
    * two distinct endpoints), so ln never sees 1 and the per-center
    * term round(1e6/ln(deg_w)) is ONE float op micro-rounded at the
    * DEGREE TABLE (model-size) — pair scores are exact BIGINT sums,
    * order-free, engine-replayable.
    *
    * Scale shape: candidate pairs fan out deg²/2 per wedge center —
    * the hot-hub quadratic (the maxDf class). `maxDeg` drops centers
    * above the cap from wedge generation (score becomes a lower
    * bound; survivors' terms stay exact — the q95/q261 capped-path
    * contract). One degree aggregation, one capped self-join on the
    * center, one grouped sum; `is_edge` flags pairs already present
    * (link prediction ranks the non-edges; evaluation wants both).
    */
  def adamicAdar(edges0: DataFrame, aCol: String, bCol: String,
                 maxDeg: Int = Int.MaxValue): DataFrame = {
    require(maxDeg >= 2, "maxDeg must be >= 2")
    val e = edges0.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
    val nbrs = e.select(col("a").as("w"), col("b").as("n"))
      .unionAll(e.select(col("b").as("w"), col("a").as("n")))
    val deg = nbrs.groupBy("w").agg(count(lit(1)).as("d"))
    val term = deg
      .filter(col("d") >= 2 && col("d") <= maxDeg)
      .withColumn("t_micro",
        expr("CAST(round(1000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)"))
    val capped = nbrs.join(term, "w")
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select(col("x.n").as("a"), col("y.n").as("b"),
        col("x.t_micro").as("t_micro"))
    pairs.groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum("t_micro").as("aa_micro"))
      .join(e.withColumn("is_edge", lit(true)), Seq("a", "b"), "left")
      .na.fill(false, Seq("is_edge"))
  }

  /** Deterministic negative-edge sampling for link-prediction
    * training: each positive edge draws `candidates` pseudo-random
    * vertices (avalanched portable hash of (a, b, i, seed) mapped to
    * a vertex RANK — reproducible across engines, partitionings and
    * reruns, no RNG state), drops self-loops and true edges (anti
    * join on the canonical pair), and keeps the first k surviving
    * draws per positive in draw order. Some positives may yield fewer
    * than k negatives when draws collide — the honest bounded-retry
    * semantics (raise `candidates` for denser graphs).
    *
    * Scale shape: one explode (edges × candidates) of id-only rows,
    * one rank join against the vertex table, one anti join against
    * the edge set, one per-edge rank window over ≤ candidates rows.
    */
  def negativeEdges(edges0: DataFrame, aCol: String, bCol: String,
                    k: Int, candidates: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && candidates >= k, "need candidates >= k >= 1")
    val e = edges0.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
    // Vertex renumbering via a [[PrefixScan]] row rank (range-partition,
    // per-partition row_number, broadcast per-partition offsets) — a
    // vertex set grows with the data, so a global Window.orderBy here
    // would funnel every vertex through one partition at scale. The
    // ranked table is tiny (two longs per vertex); localCheckpoint
    // materializes it so the rank's internal persist is released
    // immediately instead of leaking for the session lifetime.
    val verts = Materialize.scope {
      Materialize.localCheckpoint(PrefixScan(
          e.select(col("a").as("v"))
            .unionAll(e.select(col("b").as("v"))).distinct(),
          Seq(col("v")), PrefixScan.RowRank("vrank")).rows)
    }
    val nV = verts.agg(count(lit(1)).as("n_v"))
    val draws = e
      .select(col("a"), col("b"),
        explode(sequence(lit(0), lit(candidates - 1))).as("i"))
      .crossJoin(broadcast(nV))
      .withColumn("j", pmod(graft.core.Sketches.mix32(
        TextAnalysis.rollingHash(concat(
          col("a").cast("string"), lit(":"), col("b").cast("string"),
          lit(":"), col("i").cast("string"), lit(":"),
          lit(seed.toString)))), col("n_v")) + 1)
    // plain equi-join: AQE broadcasts small vertex tables on its own;
    // huge ones shuffle on the rank key like any dimension
    val cand = draws.join(verts, col("j") === col("vrank"))
      .filter(col("v") =!= col("a") && col("v") =!= col("b"))
      .select(col("a"), col("b"), col("i").cast("long").as("i"),
        least(col("a"), col("v")).as("na"),
        greatest(col("a"), col("v")).as("nb"))
    val nonEdges = cand.join(
      e.select(col("a").as("na"), col("b").as("nb")), Seq("na", "nb"),
      "left_anti")
    val w = Window.partitionBy("a", "b").orderBy("i")
    nonEdges.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("a"), col("b"), col("i"),
        when(col("na") === col("a"), col("nb")).otherwise(col("na"))
          .as("neg"))
  }

  /** k-core peeling: iteratively drop vertices whose degree in the
    * REMAINING graph is below k, `rounds` times — the standard
    * community/spam-core detector (the k-core is the maximal subgraph
    * where everyone keeps >= k neighbors; coreness separates hub
    * structure from pendant fuzz that raw degree can't). Returns the
    * surviving vertices with their within-core degree.
    *
    * `rounds` is FIXED (the q157 integer-PageRank discipline): each
    * round is deterministic relational algebra, so an external engine
    * unrolls the same rounds and replays the result exactly; a
    * data-dependent stop would put the round COUNT itself outside the
    * oracle. Peeling converges geometrically on real graphs (the gate
    * corpus reaches its fixpoint within 6 at every SF — spec-pinned);
    * callers needing a guaranteed fixpoint compare round r with r−1.
    *
    * Scale shape: per round one grouped degree count + two semi
    * joins, all on (vertex, vertex) integer pairs; the edge set only
    * ever SHRINKS, and each round's survivor set persists while the
    * next derives (prior round released). Payloads never enter.
    */
  def kCore(edges0: DataFrame, aCol: String, bCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "kCore needs k >= 1, rounds >= 1")
    val canon = edges0.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
    // localCheckpoint per round (the connectedComponentsStar pattern):
    // each round references its parent three times (degree branch +
    // both semi joins), so untruncated lineage would grow 3^rounds
    var edges = Materialize.localCheckpoint(canon)
    (1 to rounds).foreach { _ =>
      val deg = edges.select(col("a").as("v"))
        .unionAll(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("v")
      edges = Materialize.localCheckpoint(edges
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select("a", "b"))
    }
    edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("core_degree"))
  }
}
