package org.apache.spark

/** The one Spark-private call the benchmark needs: wait until every
  * queued listener event has been delivered, so the counters read after
  * an operation include all of that operation's jobs, stages and tasks.
  */
object PerfBenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
