package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftShim}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The one idiom for materializing and releasing intermediates.
  *
  * Every tier of the reference pipeline is a serverless function whose
  * state dies with the invocation; here the tiers share one long-lived
  * session, so anything a query persists outlives the request unless
  * something releases it. [[persist]] and [[localCheckpoint]] register
  * the storage they create with the innermost [[scope]] open on the
  * calling thread (every query builds on its caller's thread). A scope
  * releases, on normal exit or exception, everything registered inside
  * it — except storage the returned value's DataFrames still read
  * (their cached sub-plans and checkpoint leaves, transitively), which
  * moves to the enclosing scope.
  *
  * Consumers own the outermost scope (a query's write in
  * [[graft.Verify]], a streaming `foreachBatch` body). Operators open
  * an inner scope only around intermediates they are done with before
  * returning. Outside any scope nothing is tracked and nothing is
  * released; the storage is the plain Spark calls' storage.
  *
  * A persisted frame is a leaf: its plan is the cache entry's
  * in-memory relation, not the lineage that computes it. Spark swaps a
  * cached sub-plan for that same relation before optimizing anyway, so
  * optimized and physical plans are unchanged; what the leaf saves is
  * analysis. A pipeline of persisted stages would otherwise carry a
  * full copy of every earlier stage in each later one, and every
  * eager Dataset call re-analyzes all of it (a self-join of a stage
  * doubles everything below it).
  */
object Materialize {

  private sealed trait Held { def release(): Unit }
  private final case class Cached(df: DataFrame, key: LogicalPlan,
      cache: AnyRef) extends Held {
    def release(): Unit = { df.unpersist(blocking = false); () }
  }
  private final case class Checkpoint(rdd: RDD[_]) extends Held {
    def release(): Unit = { rdd.unpersist(blocking = false); () }
  }

  private final class Scope { val held = ArrayBuffer.empty[Held] }
  private val open = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  private def register(h: Held): Unit = open.get.headOption.foreach(_.held += h)

  /** `df.persist()`, registered with the innermost open scope, and
    * returned as a leaf over the cache entry with `df`'s output
    * attributes, so columns taken from `df` resolve on the result. A
    * plan that is already cached is never registered, so a scope never
    * drops a cache it did not create; a frame that already is such a
    * leaf comes back as it is. A plan with a logical output ordering
    * (over a `range`, or ending in a sort) is cached the same way but
    * comes back as `df` itself.
    */
  def persist(df: DataFrame): DataFrame = GraftShim.logicalPlan(df) match {
    case _: InMemoryRelation => df
    case plan =>
      val entries = GraftShim.numCachedEntries(df.sparkSession)
      df.persist()
      GraftShim.cachedEntry(df).fold(df) { e =>
        // this call's persist() added the entry: the count grew (other
        // threads may add entries too) and the entry is keyed by `df`
        if (open.get.nonEmpty &&
            GraftShim.numCachedEntries(df.sparkSession) > entries &&
            GraftShim.persistedBy(e, df))
          register(Cached(df, plan.canonicalized, GraftShim.cacheId(e)))
        // A relation with an output ordering stays lineage: Spark's
        // `InMemoryRelation.newInstance` (a self-join's renamed copy)
        // keeps the old attributes in that ordering, and canonicalizing
        // the copy then fails.
        if (e.cachedRepresentation.outputOrdering.isEmpty) GraftShim.cachedLeaf(df, e)
        else df
      }
  }

  /** Eager `df.localCheckpoint()`, its block storage registered with
    * the innermost open scope.
    */
  def localCheckpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    GraftShim.logicalPlan(out).foreach {
      case l: LogicalRDD => register(Checkpoint(l.rdd))
      case _ => ()
    }
    out
  }

  /** Run `body`, then release what it registered and the returned
    * value does not read. DataFrames are found in the result itself and
    * inside tuples, case classes and collections.
    */
  def scope[T](body: => T): T = {
    val s = new Scope
    val outer = open.get
    open.set(s :: outer)
    val out =
      try body
      catch { case e: Throwable =>
        open.set(outer)
        releaseAll(s.held)
        throw e
      }
    open.set(outer)
    val (kept, dropped) = s.held.partition(readBy(out))
    outer.headOption.foreach(_.held ++= kept)
    releaseAll(dropped)
    out
  }

  private def releaseAll(held: Iterable[Held]): Unit =
    held.toSeq.reverseIterator.foreach(_.release())

  private def frames(x: Any): Iterator[DataFrame] = x match {
    case d: Dataset[_] => Iterator(d.toDF())
    case xs: IterableOnce[_] => xs.iterator.flatMap(frames)
    case p: Product => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }

  /** Whether `out` still reads a registered piece of storage. What a
    * result reads is its analyzed plans and, transitively, the plans
    * that computed each cache they read (a cache that is not yet
    * materialized still computes from them). A cached plan is read
    * when its in-memory relation is a leaf of one of those plans (the
    * same builder object) or when it is a sub-plan of one; a
    * checkpoint when its RDD is a leaf of one or an ancestor of such a
    * leaf's RDD.
    */
  private def readBy(out: Any): Held => Boolean = {
    val results = frames(out).map(GraftShim.logicalPlan).toSeq
    lazy val (plans, caches) = {
      // identity set: a cache's builder compares whole plans for equality
      val caches = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
      val read = ArrayBuffer.empty[LogicalPlan]
      def walk(p: LogicalPlan): Unit = {
        read += p
        GraftShim.cacheLeaves(p).foreach { case (c, from) =>
          if (caches.add(c)) walk(from)
        }
      }
      results.foreach(walk)
      (read.toSeq, caches)
    }
    lazy val subPlans: Set[LogicalPlan] =
      plans.flatMap(_.collectWithSubqueries { case p => p.canonicalized }).toSet
    lazy val rdds: Set[Int] = {
      val seen = scala.collection.mutable.Set.empty[Int]
      def walk(r: RDD[_]): Unit =
        if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
      plans.foreach(_.collectWithSubqueries { case l: LogicalRDD => walk(l.rdd) })
      seen.toSet
    }
    {
      case Cached(_, key, cache) =>
        caches.contains(cache) || subPlans.contains(key)
      case Checkpoint(rdd) => rdds.contains(rdd.id)
    }
  }
}
