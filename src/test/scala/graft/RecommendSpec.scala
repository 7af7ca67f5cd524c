package graft

import graft.core.Recommend
import org.apache.spark.sql.functions._

/** Item-item CF: hand-checked cosine algebra, support threshold,
  * ownership filter, deterministic ranks.
  */
class RecommendSpec extends SparkSpec {
  import spark.implicits._

  test("hand case: sims, support cut, ownership filter, scores") {
    // u1 {A,B}, u2 {A,B,C}, u3 {B,C}: common(A,B)=2, common(B,C)=2,
    // common(A,C)=1 (dies at support 2). |A|=2 |B|=3 |C|=2 ->
    // sim(A,B) = sim(B,C) = 2/(sqrt(2)*sqrt(3)) = 816497 micro. The
    // NULL items of u1 and u2 are no interaction: they change nothing
    val ui = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"), (2L, "C"),
      (3L, "B"), (3L, "C"), (1L, null), (2L, null)).toDF("u", "it")
    val sims = Recommend.itemItemSim(ui, "u", "it", minSupport = 2L)
      .as[(String, String, Long, Long)].collect().toSet
    assert(sims == Set(("A", "B", 2L, 816497L), ("B", "C", 2L, 816497L)),
      s"$sims")
    val panel = Seq(1L, 2L, 3L).toDF("u")
    val recs = Recommend.recommendTopK(ui, Recommend.itemItemSim(
        ui, "u", "it", 2L), panel, "u", "it", k = 5)
      .as[(Long, Long, String, Long, Long)].collect().toSet
    // u1 gets C through its B link; u3 gets A through B; u2 owns all
    assert(recs == Set((1L, 1L, "C", 816497L, 1L),
      (3L, 1L, "A", 816497L, 1L)), s"$recs")
  }

  test("scores sum links from multiple owned items; ranks break ties by id") {
    // u owns A and B; X links to both (sum), Y links only to A
    val ui = Seq(
      (1L, "A"), (1L, "B"),
      (2L, "A"), (2L, "X"), (3L, "A"), (3L, "X"),   // common(A,X)=2
      (4L, "B"), (4L, "X"), (5L, "B"), (5L, "X"),   // common(B,X)=2
      (6L, "A"), (6L, "Y"), (7L, "A"), (7L, "Y"))   // common(A,Y)=2
      .toDF("u", "it")
    val sims = Recommend.itemItemSim(ui, "u", "it", 2L)
    val recs = Recommend.recommendTopK(ui, sims, Seq(1L).toDF("u"),
        "u", "it", k = 5)
      .as[(Long, Long, String, Long, Long)].collect().sortBy(_._2).toSeq
    assert(recs.head._3 == "X" && recs.head._5 == 2L,
      s"X must rank first with two links: $recs")
    assert(recs(1)._3 == "Y" && recs(1)._5 == 1L, s"$recs")
    assert(recs.head._4 > recs(1)._4, "summed links outscore one link")
  }

  test("maxItemsPerUser: identity under the cap, bounded fan-out over it") {
    val ui = (1L to 6L).flatMap(u =>
      ('A' to ('A' + 3 + (u % 3).toInt).toChar).map(c => (u, c.toString)))
      .toDF("u", "it")
    // every basket (4-6 items) is under a cap of 10: results identical
    val base = Recommend.itemItemSim(ui, "u", "it", 2L)
      .as[(String, String, Long, Long)].collect().toSet
    val capped10 = Recommend.itemItemSim(ui, "u", "it", 2L,
        maxItemsPerUser = 10)
      .as[(String, String, Long, Long)].collect().toSet
    assert(capped10 == base, "cap above every basket must be a no-op")
    // cap of 2: each user contributes at most one pair — the power-user
    // quadratic blowup is bounded; selection is deterministic (replays)
    val c2a = Recommend.itemItemSim(ui, "u", "it", minSupport = 1L,
        maxItemsPerUser = 2)
      .as[(String, String, Long, Long)].collect().toSet
    val c2b = Recommend.itemItemSim(ui, "u", "it", minSupport = 1L,
        maxItemsPerUser = 2)
      .as[(String, String, Long, Long)].collect().toSet
    assert(c2a == c2b, "capped sample must be deterministic")
    assert(c2a.nonEmpty && c2a.map(p => (p._1, p._2)).size <= 6,
      s"6 users x C(2,2)=1 pair each caps the pair table: $c2a")
    // denominators stay exact: n_users comes from the FULL table
    val full = Recommend.itemItemSim(ui, "u", "it", 1L)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    c2a.foreach { case (a, b, common, _) =>
      assert(common <= full((a, b)), "capped support never exceeds true") }
  }
}
