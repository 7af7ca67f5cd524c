package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan-shape regression gate for UNPARTITIONED window operators
  * (round-11 verdict #2/#3): an unpartitioned WindowExec moves the
  * whole input to ONE partition, so on a gate query it is only
  * acceptable over a provably bounded table — a TakeOrderedAndProject
  * top-k result, the per-partition totals of [[graft.core.PrefixScan]]
  * (rows = cluster partition count), or a model-size lattice (the
  * micro-score ROC grid, ≤1.5e6 by construction). Every query below
  * pins its EXACT allowed count of unpartitioned windows, with the
  * justification in the comment — a new unpartitioned window anywhere
  * in these plans fails the suite instead of surfacing as a
  * `WindowExec: No Partition Defined` warning in a bench log.
  *
  * Inspection is on physical NODES (partitionSpec.isEmpty), not plan
  * strings, with the AQE wrapper unwrapped — runtime re-optimization
  * can merge partitions but never introduces new window operators.
  */
class WindowShapesSpec extends SparkSpec {

  private def walk(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.subqueries).flatMap(walk)

  private def unpartitionedWindows(df: DataFrame): Int =
    walk(org.apache.spark.sql.GraftShim.physicalPlan(df)).count {
      case w: WindowExec => w.partitionSpec.isEmpty
      case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
      case _ => false
    }

  /** The query's unpartitioned-window count and plan, built inside a
    * scope so the caches its build registers are dropped again: left
    * in the cache manager, a later suite that builds the same query
    * would read them instead of persisting its own.
    */
  private def planOf(name: String): (Int, String) = graft.core.Materialize.scope {
    val df = SparkEntry.queries(name)(spark, Sf0001)
    (unpartitionedWindows(df), df.queryExecution.executedPlan.toString)
  }

  // (query, allowed unpartitioned windows, must-contain-TakeOrdered)
  private val cases: Seq[(String, Int, Boolean, String)] = Seq(
    ("q141_session_paths", 1, true,
      "rank re-derived over the 20-row TakeOrdered result only"),
    ("q144_pmi_collocations", 1, true,
      "rank re-derived over the 20-row TakeOrdered result only"),
    ("q157_textrank", 1, true,
      "rank re-derived over the k-row TakeOrdered result only"),
    ("q96_bpe_first_merge", 1, true,
      "rank re-derived over the 50-row TakeOrdered result only"),
    ("q163_vocab_coverage", 1, false,
      "the two-phase prefix pass's per-partition totals " +
        "(rows = shuffle partition count, never data-sized)"),
    ("q74_pack_map", 1, false,
      "the prefix scan's per-partition totals " +
        "(rows = shuffle partition count, never data-sized)"),
    ("q75_pack_seqs", 1, false,
      "the prefix scan's per-partition totals " +
        "(rows = shuffle partition count, never data-sized)"),
    ("q79_pack_by_cost", 1, false,
      "the prefix scan's per-partition totals " +
        "(rows = shuffle partition count, never data-sized)"),
    ("q107_token_budget", 1, false,
      "the prefix scan's per-partition totals " +
        "(rows = shuffle partition count, never data-sized)"),
    ("q110_pack_boundaries", 1, false,
      "the prefix scan's per-partition totals " +
        "(rows = shuffle partition count, never data-sized)"),
    ("q121_length_batching", 2, false,
      "the prefix scan's per-partition totals " +
        "(rows = shuffle partition count), planned once per reader " +
        "of the ranked rows"),
    ("q123_rank_ensemble", 3, false,
      "one prefix scan per signal, each over its " +
        "per-partition totals (rows = shuffle partition count)"),
    ("q156_curriculum_phases", 2, false,
      "the prefix scan's per-partition totals " +
        "(rows = shuffle partition count), planned once per reader " +
        "of the ranked rows"),
    ("q174_packing_sweep", 3, false,
      "the prefix scan's per-partition totals " +
        "(rows = shuffle partition count), planned once per swept " +
        "sequence length"),
    ("q232_lift_table", 1, false,
      "the nBuckets-row cumulative bucket lattice; the " +
        "prefix scan's per-partition totals run behind a localCheckpoint"),
    ("q242_negative_edges", 0, false,
      "the vertex rank's prefix scan runs behind a " +
        "localCheckpoint; the returned plan joins the materialized ranks"),
    ("q151_roc_auc", 1, false,
      "the micro-score ROC lattice (<=1.5e6 values by construction)"),
    ("q249_group_auc", 0, false,
      "per-group lattice windows are group-partitioned"),
    ("q28_anomaly_scores", 0, false,
      "daily rollup + rolling window are user-partitioned"),
    ("q07_rolling_mean", 0, false,
      "rolling window is user-partitioned"),
    ("q274_longest_repeats", 0, false,
      "suffix ranking's bounded per-partition-totals windows run in " +
        "the eager phase behind localCheckpoints; the returned plan's " +
        "windows are doc-/bucket-partitioned only"),
    ("q266_mann_whitney", 0, false,
      "midrank lattice windows are key-partitioned"),
    ("q267_log_rank", 0, false,
      "at-risk suffix sums are key-partitioned"),
    ("q268_spearman", 0, false,
      "both marginal midrank windows are group-partitioned"),
    ("q269_perm_fdr", 3, false,
      "BH rank/census windows run over the m-row experiment family " +
        "table (model-size by construction, never corpus rows)"),
    ("q284_wasserstein", 0, false,
      "CDF cumsum/lead windows are event-type-partitioned"),
    ("q285_skyline", 1, false,
      "the two-phase prefix-max's partition-totals window " +
        "(rows = shuffle partition count, never data-sized); the " +
        "grid running-max is _pid-partitioned"),
    ("q288_quantile_normalize", 0, false,
      "both rank passes are the two-phase prefix rank behind " +
        "localCheckpoints; the returned plan joins materialized " +
        "rank tables"),
    ("q291_ams_f2", 1, false,
      "the exact median ranks the 5-row means table (sketch-size " +
        "by construction)"),
    ("q283_conformal", 0, false,
      "the q-hat order statistic window is group-partitioned"),
    ("q290_interval_islands", 0, false,
      "running max-end and island cumsum windows are key-partitioned"))

  cases.foreach { case (name, allowed, takeOrdered, why) =>
    test(s"$name: <=$allowed unpartitioned window(s) — $why") {
      val (got, plan) = planOf(name)
      assert(got <= allowed,
        s"$name has $got unpartitioned windows (allowed $allowed):\n$plan")
      if (takeOrdered)
        assert(plan.contains("TakeOrderedAndProject"),
          s"$name must bound its rank input with orderBy+limit:\n$plan")
    }
  }
}
