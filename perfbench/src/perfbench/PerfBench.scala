package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload against a
  * `local[cores]` session and writes every operation's timing, verdict
  * and (in a traced run) layer record and spans as one JSON file.
  * `perfbench/run.py` generates the inputs, starts this, and reduces
  * the record to metrics.
  *
  * Usage: PerfBench --workload ingest|api|curation --seed N --seconds S
  *        --trace 0|1 --cores N --input DIR --work DIR --out FILE
  */
object PerfBench {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")

    val setup = mutable.LinkedHashMap[String, Any]()
    val t0 = System.nanoTime()
    val spark = graft.Tables.configure(
      SparkSession.builder().master(s"local[$cores]"), cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Configurator.setRootLevel(Level.ERROR)
    setup("session_s") = (System.nanoTime() - t0) / 1e9

    val h = new Harness(spark, trace)
    val extra = workload match {
      case "ingest" => Workloads.ingest(h, opt("input"), work, opt("seed").toLong, seconds, setup)
      case "api" => Workloads.api(h, opt("input"), work, opt("seed").toLong, seconds, setup)
      case "curation" => Workloads.curation(h, opt("input"), work, seconds, setup)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val measuredMs = h.measuredMs

    // Spark's ContextCleaner frees unreachable RDDs, shuffles and
    // broadcasts asynchronously after a GC finds them, so one forced GC
    // reads a timing-dependent value: collect until the reading settles.
    val heap = ManagementFactory.getMemoryMXBean
    var heapUsed = Long.MaxValue
    var rounds = 0
    var settled = false
    while (!settled && rounds < 10) {
      System.gc()
      Thread.sleep(200)
      val used = heap.getHeapMemoryUsage.getUsed
      settled = used >= heapUsed * 0.99
      heapUsed = math.min(heapUsed, used)
      rounds += 1
    }

    val record = Map(
      "workload" -> workload,
      "host" -> Map(
        "cores" -> cores,
        "master" -> spark.sparkContext.master,
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "setup" -> setup.toMap,
      "measured_ms" -> measuredMs,
      "retained_heap_mb" -> heapUsed / (1024.0 * 1024.0),
      "extra" -> extra,
      "ops" -> h.ops.map(_.toMap).toSeq,
      "spans" -> h.spans.toSeq)
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opt("out")), record)
  }
}
