package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftShim}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

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
  * returning. Outside any scope both functions behave exactly like the
  * plain Spark calls: nothing is tracked and nothing is released.
  */
object Materialize {

  private sealed trait Held { def release(): Unit }
  private final case class Cached(df: DataFrame, key: LogicalPlan) extends Held {
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

  /** `df.persist()`, registered with the innermost open scope. A plan
    * that is already cached is never registered, so a scope never drops
    * a cache it did not create.
    */
  def persist(df: DataFrame): DataFrame = {
    val fresh = open.get.nonEmpty && !GraftShim.isCached(df)
    df.persist()
    if (fresh) register(Cached(df, GraftShim.logicalPlan(df).canonicalized))
    df
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

  /** Whether `out` still reads a registered piece of storage: a cached
    * plan is read when it is a sub-plan of an analyzed (un-substituted)
    * result plan; a checkpoint when its RDD is a leaf of one or an
    * ancestor of such a leaf's RDD.
    */
  private def readBy(out: Any): Held => Boolean = {
    val plans = frames(out).map(GraftShim.logicalPlan).toSeq
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
      case Cached(_, key) => subPlans.contains(key)
      case Checkpoint(rdd) => rdds.contains(rdd.id)
    }
  }
}
