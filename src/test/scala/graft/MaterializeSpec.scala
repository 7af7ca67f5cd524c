package graft

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** The materialize-and-release idiom: scopes nest, a returned frame's
  * storage moves to the enclosing scope, a cache the scope did not
  * create is left alone, an exception still releases, and every
  * driver query releases everything it persists when its consumer
  * wraps build + write in one scope.
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def cached(df: DataFrame): Boolean = GraftShim.isCached(df)
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def frame(tag: String): DataFrame =
    spark.range(50).select(col("id"), lit(tag).as("tag"))

  test("nested scopes: each releases what it registered and does not return") {
    val outerDf = frame("outer")
    val innerDf = frame("inner")
    Materialize.scope {
      Materialize.persist(outerDf).count()
      Materialize.scope {
        Materialize.persist(innerDf).count()
        assert(cached(innerDf))
        innerDf.count()
      }
      assert(!cached(innerDf), "inner scope released its cache")
      assert(cached(outerDf), "inner scope left the outer scope's cache")
    }
    assert(!cached(outerDf))
  }

  test("a returned frame's storage moves to the enclosing scope") {
    val base = frame("moved")
    val before = persisted
    Materialize.scope {
      val (derived, ckpt) = Materialize.scope {
        val c = Materialize.persist(base)
        c.count()
        val k = Materialize.localCheckpoint(frame("ckpt"))
        val dropped = Materialize.localCheckpoint(frame("dropped"))
        assert(dropped.count() == 50)
        (c.filter($"id" > 10), k.filter($"id" < 5))
      }
      assert(cached(base), "the cache the returned plan reads survives")
      assert(persisted.diff(before).size == 2,
        "the read checkpoint and the cache survive; the unread checkpoint does not")
      assert(derived.count() == 39 && ckpt.count() == 5)
    }
    assert(!cached(base))
    assert(persisted == before, "the enclosing scope released the moved storage")
  }

  test("a plan cached before the scope is never registered or released") {
    val df = frame("pre").persist()
    try {
      df.count()
      Materialize.scope {
        Materialize.persist(frame("pre")).count()
      }
      assert(cached(df), "the scope dropped a cache it did not create")
    } finally df.unpersist(blocking = true)
  }

  test("an exception releases everything the scope registered") {
    val df = frame("boom")
    val before = persisted
    val e = intercept[IllegalStateException] {
      Materialize.scope {
        Materialize.persist(df).count()
        Materialize.localCheckpoint(frame("boom-ckpt"))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!cached(df))
    assert(persisted == before)
  }

  test("outside any scope the calls are plain persist and checkpoint") {
    val df = frame("plain")
    val before = persisted
    Materialize.persist(df).count()
    val k = Materialize.localCheckpoint(frame("plain-ckpt"))
    try {
      assert(cached(df))
      assert(persisted.diff(before).nonEmpty)
    } finally {
      df.unpersist(blocking = true)
      persisted.diff(before).foreach(id =>
        spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    }
    assert(k.columns.toSeq == Seq("id", "tag"))
  }

  /** Queries that may leave storage behind after their consumer's
    * scope closes, each with the reason. Empty: every query routes its
    * persists and checkpoints through Materialize.
    */
  private val leakExceptions: Map[String, String] = Map.empty

  test("every driver query releases what it persists inside its consumer's scope") {
    val sc = spark.sparkContext
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val rdds = sc.getPersistentRDDs.keySet.toSet
      val entries = GraftShim.numCachedEntries(spark)
      Materialize.scope {
        fn(spark, Sf0001).write.format("noop").mode("overwrite").save()
      }
      val leftRdds = sc.getPersistentRDDs.keySet.toSet.diff(rdds)
      val leftEntries = GraftShim.numCachedEntries(spark) - entries
      if (leftRdds.isEmpty && leftEntries == 0) None
      else Some(name -> s"${leftRdds.size} persisted RDDs, $leftEntries cache entries")
    }.toMap
    assert(leaks.keySet == leakExceptions.keySet,
      leaks.toSeq.sorted.map { case (q, what) => s"$q: $what" }.mkString("\n"))
  }
}
