package graft.ml

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}

/** Driver-side model state broadcast once per live SparkContext: a
  * scorer called once per request reuses its first call's broadcast
  * instead of serializing the model again. Entries are keyed by the
  * context and a caller key (the model instance, or the parameters a
  * derived value is a pure function of) and released when the context
  * stops. Past `MaxEntries` keys per context the least recently used is
  * dropped; Spark's ContextCleaner frees it once no plan holds it.
  */
private[graft] object ContextBroadcast {
  private val MaxEntries = 64

  private val live =
    mutable.HashMap.empty[SparkContext, mutable.LinkedHashMap[Any, Broadcast[_]]]

  def apply[T: ClassTag](sc: SparkContext, key: Any)(value: => T): Broadcast[T] =
    synchronized {
      val entries = live.getOrElseUpdate(sc, {
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
            ContextBroadcast.synchronized(live.remove(sc))
        })
        mutable.LinkedHashMap.empty
      })
      // re-insert on a hit: iteration order is then least recent first
      val bc = entries.remove(key).getOrElse(sc.broadcast(value))
      entries.put(key, bc)
      if (entries.size > MaxEntries) entries.remove(entries.head._1)
      bc.asInstanceOf[Broadcast[T]]
    }

  /** Contexts whose broadcasts are held. */
  def contexts: Int = synchronized(live.size)
}
