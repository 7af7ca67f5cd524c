package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One domain of the query catalog: each query's DataFrame
  * program and its DuckDB oracle, under the same name.
  */
private[graft] trait QueryDomain {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

/** Helpers and oracle fragments used by more than one domain. */
private[queries] object Shared {

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

  /** Temp dir for gate closures that exercise the table format: same
    * contract as `Files.createTempDirectory` plus a JVM shutdown hook
    * that deletes the tree — repeated bench/probe iterations would
    * otherwise accumulate full encode/pack tables under /tmp for the
    * life of the machine, not just the session.
    */
  private[queries] def scratchDir(prefix: String): String = {
    scratchHook
    val d = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(d.toFile)
    d.toString
  }

  /** The q91 quality-score replay as an expression fragment — expects
    * a CTE scope providing `text` and `t` (the whitespace token
    * array). Rounded to 6 decimals, bit-identical across engines (the
    * q91 evidence); q151/q153 lattice it to micro BIGINTs.
    */
  private[queries] val QualityScoreSql =
    """round(CAST(len(list_filter(t, x -> list_contains(
      |        ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
      |        / len(t) * 0.4
      |      + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |        / length(text) * 0.6
      |      - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
      |        / length(text) * 0.5, 6)""".stripMargin

  /** DuckDB text of the engine's cosine: sequential-fold dot product
    * over the array (list_reduce folds left in element order, matching
    * DotProduct's fold), divided by the product of the two sqrt-norms
    * in the same operation order — bit-identical IEEE doubles.
    */
  private[queries] def duckCos(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      [$a[i+1] * $b[i+1] for i in generate_series(0, len($a)-1)]),
       |      (acc, x) -> acc + x)
       |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |         [$a[i+1] * $a[i+1] for i in generate_series(0, len($a)-1)]),
       |         (acc, x) -> acc + x))
       |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |         [$b[i+1] * $b[i+1] for i in generate_series(0, len($b)-1)]),
       |         (acc, x) -> acc + x)))""".stripMargin

  /** Column expressions shared by the q23, q51, q73, q152 and q154 oracles. */
  private[queries] lazy val langScoreCols: String =
    """    CAST(len(list_filter(t, x -> list_contains(['the','and','of','is'], x)))
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
      |      + (length(text) - length(replace(text, 'ent', ''))) / 3 AS BIGINT) AS score_fr""".stripMargin

  /** CTEs `counts`, `cand`, `pairs`, `edges`, `cc` shared by the q43, q51,
    * q73, q106, q136, q146 and q173 oracles.
    */
  private[queries] lazy val jaccardComponentCtes: String =
    """counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
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
      |  SELECT e.dst AS doc, cc.lbl FROM cc JOIN edges e ON cc.doc = e.src),""".stripMargin

  /** CTEs `h1`, `h2` shared by the q286, q291, q295 and q299 oracles. */
  private[queries] lazy val h1H2Ctes: String =
    """h1 AS (SELECT *, (xor(h, h // 65536) * 73244475) % 4294967296
      |  AS hv1 FROM h0),
      |h2 AS (SELECT *, (xor(hv1, hv1 // 65536) * 73244475) % 4294967296
      |  AS hv2 FROM h1),""".stripMargin

  /** Column expressions shared by the q72, q73, q80 and q113 oracles. */
  private[queries] lazy val windowHashCols: String =
    """  SELECT doc_id, pos,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(regexp_split_to_array(win, ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h""".stripMargin

  /** Column expressions shared by the q51, q73 and q80 oracles. */
  private[queries] lazy val qualityRatioCols: String =
    """  SELECT doc_id, text, t,
      |    CAST(len(list_filter(t, x -> list_contains(
      |      ['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
      |      / len(t) AS sw,
      |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
      |      / length(text) AS punct,
      |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |      / length(text) AS alpha""".stripMargin

  /** Column expressions shared by the q68, q73 and q80 oracles. */
  private[queries] lazy val llScaledCols: String =
    """    CAST(sum(CAST(floor(1e6 * ln(
      |      CAST(c + 1 AS DOUBLE) /
      |      CAST(cctx + (SELECT v FROM voc) AS DOUBLE))) AS BIGINT)) AS BIGINT)
      |      AS ll_scaled""".stripMargin
}
