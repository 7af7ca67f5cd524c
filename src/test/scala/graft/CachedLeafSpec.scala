package graft

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** A persisted frame is a leaf over its cache entry: its analyzed plan
  * is the entry's in-memory relation with the frame's own attributes,
  * so a chain of persisted stages stays small to analyze, joins over it
  * return what the unpersisted frame returns, and a scope still keeps
  * every cache its result computes from.
  */
class CachedLeafSpec extends SparkSpec {

  private def nodes(df: DataFrame): Int =
    GraftShim.logicalPlan(df).collectWithSubqueries { case p: LogicalPlan => p }.size

  import spark.implicits._

  /** 40 rows from a local relation: no logical output ordering. */
  private def frame(tag: String): DataFrame =
    (0L until 40L).map(i => (i, i % 7, tag)).toDF("id", "v", "tag")

  test("the persisted frame is one in-memory relation with the frame's attributes") {
    val df = frame("leaf")
    val v = df("v")
    leavesNothingPersisted {
      Materialize.scope {
        val leaf = Materialize.persist(df)
        GraftShim.logicalPlan(leaf) match {
          case r: InMemoryRelation =>
            assert(r.output.map(_.exprId) == GraftShim.logicalPlan(df).output.map(_.exprId))
          case p => fail(s"not a leaf:\n$p")
        }
        assert(leaf.select(v).where(v === 3).count() == 6,
          "a column taken before the persist resolves on the leaf")
      }
    }
  }

  test("a chain of persisted self-joins analyzes in a constant number of nodes per stage") {
    // No action runs on the chain: its physical plan still nests every
    // stage's cached plan twice per level, as Spark's own cache
    // substitution does, and explaining 12 levels of that would take
    // most of the heap. The rows of one such join are checked below.
    val entries = GraftShim.numCachedEntries(spark)
    Materialize.scope {
      (1 to 12).foldLeft(Materialize.persist(frame("chain"))) { (s, i) =>
        val next = s.select(col("id"), col("v"))
          .join(s.select(col("id"), col("v").as("w")), "id")
          .select(col("id"), (col("v") + col("w")).as("v"))
        assert(nodes(next) <= 8, s"stage $i analyzes ${nodes(next)} nodes")
        val leaf = Materialize.persist(next)
        assert(nodes(leaf) == 1, s"stage $i is not a leaf")
        leaf
      }
      ()
    }
    assert(GraftShim.numCachedEntries(spark) == entries)
  }

  test("a self-join of a leaf returns the rows of the same join unpersisted") {
    def selfJoin(d: DataFrame): Set[(Long, Long, Long)] = {
      val a = d.select(col("id"), col("v"))
      a.join(a.select(col("id").as("id2"), col("v")), "v")
        .where(col("id") < col("id2"))
        .select(col("v"), col("id"), col("id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val plain = selfJoin(frame("join"))
    val viaLeaf = leavesNothingPersisted {
      Materialize.scope(selfJoin(Materialize.persist(frame("join"))))
    }
    assert(plain.nonEmpty && viaLeaf == plain)
  }

  test("persisting a plan already cached returns a leaf over that entry and registers nothing") {
    val pre = frame("pre").persist()
    try {
      pre.count()
      val entries = GraftShim.numCachedEntries(spark)
      Materialize.scope {
        val leaf = Materialize.persist(frame("pre"))
        assert(GraftShim.logicalPlan(leaf).isInstanceOf[InMemoryRelation])
        assert(GraftShim.numCachedEntries(spark) == entries, "a second entry was added")
        assert(leaf.count() == 40)
      }
      assert(GraftShim.isCached(pre), "the scope dropped a cache it did not create")
    } finally pre.unpersist(blocking = true)
  }

  test("a plan with an output ordering is cached but stays lineage") {
    val ordered = spark.range(40).select(col("id"), (col("id") % 7).as("v"))
    leavesNothingPersisted {
      Materialize.scope {
        val p = Materialize.persist(ordered)
        assert(!GraftShim.logicalPlan(p).isInstanceOf[InMemoryRelation])
        assert(GraftShim.isCached(ordered))
        val joined = p.join(p.select(col("id"), col("v").as("w")), "id")
        assert(joined.count() == 40)
      }
    }
  }

  test("a returned stage keeps the cache it is still computed from") {
    val base = frame("under")
    leavesNothingPersisted {
      Materialize.scope {
        val top = Materialize.scope {
          val a = Materialize.persist(base)
          // not materialized: computing it still reads `a`'s cache
          Materialize.persist(a.filter(col("v") > 2))
        }
        assert(GraftShim.isCached(base),
          "the inner scope dropped a cache the returned stage reads")
        assert(top.count() == 22)
      }
    }
    assert(!GraftShim.isCached(base))
  }
}
