package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfBenchShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cumulative task metrics and the wall interval (epoch ms) of every
  * finished job. Registered only in traced runs.
  */
final class Counters extends SparkListener {
  private val totals = Seq("jobs", "stages", "tasks", "run_ms", "cpu_ms",
    "shuffle_write_bytes", "spill_bytes", "records_read")
    .map(_ -> new AtomicLong).toMap
  private val cpuNs = new AtomicLong
  private val started = new ConcurrentHashMap[Int, java.lang.Long]()
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    totals("jobs").incrementAndGet()
    started.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(t0 => jobIntervals.add((t0.longValue, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    totals("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    totals("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      totals("run_ms").addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      totals("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      totals("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      totals("records_read").addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snapshot: Map[String, Long] = {
    totals("cpu_ms").set(cpuNs.get / 1000000L)
    totals.map { case (k, v) => k -> v.get }
  }
}

/** One timed operation: its class, wall time, verdict and, when traced,
  * the wall time of each layer call inside it plus listener counts.
  */
final class Op(val cls: String, val phase: String, val traced: Boolean) {
  var ms = 0.0
  var ok = true
  var error = ""
  val layers = mutable.LinkedHashMap[String, Double]()
  val windows = mutable.LinkedHashMap[String, (Long, Long)]()
  val values = mutable.LinkedHashMap[String, Double]()

  def fail(msg: String): Unit = {
    if (ok) error = msg.take(500)
    ok = false
  }

  def expect(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  def toMap: Map[String, Any] = Map(
    "class" -> cls, "phase" -> phase, "traced" -> traced, "ms" -> ms,
    "ok" -> ok, "error" -> error, "layers" -> layers.toMap,
    "values" -> values.toMap)
}

/** Closed-loop runner with one client: each operation starts only after
  * the previous one (and its output check) has returned.
  *
  * In a traced run, every other operation of each class is traced:
  * the listener counts are read around it and a span is recorded at
  * each layer call. The untraced operations of the same run give the
  * tracing overhead. Spans stay in memory until the run ends.
  */
final class Harness(val spark: SparkSession, val traceMode: Boolean) {
  private val sc = spark.sparkContext
  private val counters = new Counters
  if (traceMode) sc.addSparkListener(counters)

  val ops = mutable.ArrayBuffer[Op]()
  val spans = mutable.ArrayBuffer[Map[String, Any]]()
  var phase = "warmup"
  var measuredMs = 0.0

  private val origin = System.nanoTime()
  private val perClass = mutable.Map[String, Int]().withDefaultValue(0)
  private var current: Op = _
  private var opId = -1
  private var nextSpan = 0
  private var stack: List[Int] = Nil

  /** Times `body` as layer `name` of the current traced operation. */
  def layer[T](name: String)(body: => T): T =
    if (current == null || !current.traced) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Map("id" -> id, "parent" -> parent, "op" -> opId,
          "name" -> name, "start_us" -> (t0 - origin) / 1000,
          "end_us" -> (t1 - origin) / 1000)
        current.layers(name) = current.layers.getOrElse(name, 0.0) + (t1 - t0) / 1e6
        current.windows(name) = (w0, System.currentTimeMillis())
      }
    }

  /** Physical planning as its own layer; only traced operations force it
    * ahead of execution, so untraced operations run exactly as a caller
    * would.
    */
  def plan(dfs: DataFrame*): Unit =
    if (current != null && current.traced)
      layer("plan")(dfs.foreach(_.queryExecution.executedPlan))

  /** Runs one operation: `work` is timed, `check` runs after the clock
    * stops and fails the operation on a wrong output.
    */
  def measure[T](cls: String, traced: Option[Boolean] = None)(work: => T)
                (check: (Op, T) => Unit): Op = {
    val measuring = phase == "measure"
    val n = perClass(cls)
    if (measuring) perClass(cls) = n + 1
    val op = new Op(cls, phase, traceMode && measuring && traced.getOrElse(n % 2 == 0))
    opId += 1
    if (op.traced) {
      PerfBenchShim.drainListeners(sc)
      counters.jobIntervals.clear()
    }
    val before = if (op.traced) counters.snapshot else Map.empty[String, Long]
    current = op
    val t0 = System.nanoTime()
    val result =
      try Some(layer(s"op.$cls")(work))
      catch { case NonFatal(e) => op.fail(s"$cls raised $e"); None }
    op.ms = (System.nanoTime() - t0) / 1e6
    current = null
    if (op.traced) {
      PerfBenchShim.drainListeners(sc)
      counters.snapshot.foreach { case (k, v) => op.values(k) = (v - before(k)).toDouble }
      val jobs = counters.jobIntervals.asScala.toSeq
      op.windows.foreach { case (name, (a, b)) =>
        op.values(s"$name.jobs") = jobs.count(j => j._1 >= a && j._1 <= b).toDouble
        op.values(s"$name.job_ms") = Harness.covered(jobs, a, b).toDouble
      }
    }
    result.foreach { r =>
      try check(op, r)
      catch { case NonFatal(e) => op.fail(s"$cls check raised $e") }
    }
    if (phase == "measure") measuredMs += op.ms
    ops += op
    op
  }

  /** Repeats `step`, a whole unit of the workload's mix, until the
    * measured operations add up to at least `seconds`.
    */
  def loop(seconds: Double)(step: => Unit): Unit = {
    phase = "measure"
    var units = 0
    // a traced run needs a traced and an untraced sample of every class
    // for the tracing overhead, and a class may occur once per unit
    while (measuredMs < seconds * 1000.0 || (traceMode && units < 2)) {
      step
      units += 1
    }
  }
}

object Harness {

  /** Milliseconds of [a, b] covered by at least one job interval. */
  def covered(jobs: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = jobs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
      finally s.close()
    }
  }
}
