package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Where one query's time goes. A query is one Spark program whose
  * heavy work often runs in eager jobs while the DataFrame is being
  * built (`collect`, `persist`, `localCheckpoint`), so its wall time is
  * split into three layers and every job it runs is listed:
  *
  *  - build: the `SparkEntry.queries(q)(spark, dir)` call;
  *  - plan: `queryExecution.executedPlan` of the returned DataFrame;
  *  - exec: the `noop` write (the bench's sink), which includes the
  *    write command's own planning.
  *
  * One `SparkListener` counts jobs, stages, tasks, executor time,
  * shuffle and spill bytes, and the task skew of the heaviest stage;
  * Spark's codegen metrics count the classes
  * Janino compiled (a plan shape already in the JVM-wide cache compiles
  * none); `analyzed_nodes` counts the returned DataFrame's analyzed
  * plan nodes, subqueries included (the size of what each eager call
  * on it re-analyzes, and a count that does not swing with the host's
  * load as wall time does); one sampler thread aggregates the stacks
  * of the driver thread and of busy executor task threads.
  *
  * Usage: runMain graft.QueryProfile <sfDir> [query ...]
  * (no names profiles every query, sorted). Each query is warmed once
  * on the sibling `sf0.001` dir, then measured once after the cache is
  * cleared. Honors `SPARK_GRAFT_CPUS` like [[Bench]].
  */
object QueryProfile {

  private val Phases = Seq("build", "plan", "exec")

  /** One job of the measured run, labeled with the layer it started in. */
  final case class Job(id: Int, ms: Long, phase: String, callSite: String)

  final case class Record(
      query: String, buildMs: Long, planMs: Long, execMs: Long,
      jobs: Int, stages: Int, tasks: Int, runMs: Long, cpuMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      heavyStageMaxMs: Long, heavyStageMedianMs: Long,
      codegenCompiles: Long, analyzedNodes: Int,
      persistedRddsLeft: Int, cacheNonEmpty: Boolean,
      timeline: Seq[Job], plan: String,
      driverFrames: Seq[(String, Int)], executorFrames: Seq[(String, Int)]) {

    def buildJobs: Int = timeline.count(_.phase == "build")

    def report: String = {
      val b = new StringBuilder
      b ++= s"[profile] $query build_ms=$buildMs plan_ms=$planMs " +
        s"exec_ms=$execMs jobs=$jobs build_jobs=$buildJobs stages=$stages " +
        s"tasks=$tasks run_ms=$runMs cpu_ms=$cpuMs " +
        s"shuffle_read_bytes=$shuffleReadBytes " +
        s"shuffle_write_bytes=$shuffleWriteBytes spill_bytes=$spillBytes " +
        s"heavy_stage_max_ms=$heavyStageMaxMs " +
        s"heavy_stage_median_ms=$heavyStageMedianMs " +
        s"codegen_compiles=$codegenCompiles analyzed_nodes=$analyzedNodes " +
        s"persisted_rdds_left=$persistedRddsLeft " +
        s"cache_nonempty=$cacheNonEmpty\n"
      timeline.foreach(j =>
        b ++= f"[job] ${j.id}%4d ${j.ms}%7d ms ${j.phase}%-5s ${j.callSite}%n")
      b ++= s"[plan]\n$plan\n"
      driverFrames.foreach { case (f, n) => b ++= f"[driver] $n%5d $f%n" }
      executorFrames.foreach { case (f, n) => b ++= f"[executor] $n%5d $f%n" }
      b.result()
    }
  }

  private final class Listener extends SparkListener {
    val stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill =
      new AtomicLong
    /** task run times (ms) per stage id */
    val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
    private val starts = new ConcurrentHashMap[Int, (Long, String)]()
    private val sqlSites = new ConcurrentHashMap[String, String]()
    /** (job id, start epoch ms, end epoch ms, call site) */
    val ended = new ConcurrentLinkedQueue[(Int, Long, Long, String)]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlSites.put(s.executionId.toString, s.description)
      case _ =>
    }
    // A SQL job is labeled with its execution's call site (AQE submits
    // stages from a pool thread, whose own call site says nothing);
    // any other job's result stage is named after its call site.
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sql = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSites.get(id)))
      starts.put(e.jobId, (e.time, sql.getOrElse(
        e.stageInfos.sortBy(-_.stageId).headOption.fold("")(_.name))))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
        ended.add((e.jobId, t0, e.time, site))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

    /** Task max and median run time (ms) of the stage with the most run
      * time among those of at least 8 tasks (fewer have no skew to
      * measure); (0, 0) when there is none.
      */
    def heavyStage: (Long, Long) = {
      val ts = taskMs.values.asScala.map(_.asScala.toSeq.sorted).filter(_.size >= 8)
      if (ts.isEmpty) (0L, 0L) else { val h = ts.maxBy(_.sum); (h.last, h(h.size / 2)) }
    }
  }

  /** Every 10 ms, counts the driver thread's and each busy executor
    * task thread's stack under its top frame plus the innermost
    * `graft.` frame (the query code that is waiting or computing), or
    * else the first Spark frame below the top.
    */
  private final class Sampler(driver: Thread)
      extends Thread("query-profile-sampler") {
    setDaemon(true)
    @volatile private var running = true
    val driverHits, executorHits = mutable.Map[String, Int]()

    private def key(st: Array[StackTraceElement]): String = {
      def name(e: StackTraceElement) = s"${e.getClassName}.${e.getMethodName}"
      val top = st.headOption.fold("?")(name)
      st.find(_.getClassName.startsWith("graft."))
        .orElse(st.drop(1).find(_.getClassName.startsWith("org.apache.spark.")))
        .fold(top)(g => s"$top <= ${name(g)}(${g.getFileName}:${g.getLineNumber})")
    }

    override def run(): Unit = while (running) {
      Thread.getAllStackTraces.forEach { (t, st) =>
        val hits =
          if (t eq driver) Some(driverHits)
          else if (st.exists(_.getClassName.endsWith("Executor$TaskRunner")))
            Some(executorHits)
          else None
        hits.foreach(_.updateWith(key(st))(n => Some(n.fold(1)(_ + 1))))
      }
      Thread.sleep(10)
    }

    def finish(): Unit = { running = false; join() }
  }

  private def top(hits: mutable.Map[String, Int]): Seq[(String, Int)] =
    hits.toSeq.sortBy { case (f, n) => (-n, f) }.take(10)

  /** Clears the cache, then runs `query` once on `dir` under the
    * listener and the sampler. Leaves whatever the query persisted in
    * place and counts it as `persistedRddsLeft`.
    */
  def record(spark: SparkSession, query: String, dir: String): Record =
    record(spark, query, SparkEntry.queries(query)(spark, _), dir)

  /** [[record]] for any DataFrame builder: `build(dir)` is the build
    * layer, and the record carries `label` as its query name.
    */
  def record(spark: SparkSession, label: String,
      build: String => DataFrame, dir: String): Record = {
    val sc = spark.sparkContext
    spark.sharedState.cacheManager.clearCache()
    val rddsBefore = sc.getPersistentRDDs.keySet
    // events of earlier jobs must not reach the new listener
    GraftShim.drainListenerBus(spark, 30000L)
    val listener = new Listener
    val sampler = new Sampler(Thread.currentThread())
    sc.addSparkListener(listener)
    sampler.start()
    // (nanoTime, epoch ms) at each layer boundary; listener event
    // times are epoch ms, so jobs are assigned to layers by them
    val marks = mutable.ArrayBuffer[(Long, Long)]()
    def mark(): Unit = marks += ((System.nanoTime(), System.currentTimeMillis()))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val compilesBefore = compiles.getCount
    val df = try {
      mark()
      val df = build(dir)
      mark()
      df.queryExecution.executedPlan
      mark()
      df.write.format("noop").mode("overwrite").save()
      mark()
      df
    } finally {
      sampler.finish()
      GraftShim.drainListenerBus(spark, 30000L)
      sc.removeSparkListener(listener)
    }
    val Seq(buildMs, planMs, execMs) = marks.toSeq.sliding(2)
      .map { case Seq(a, b) => (b._1 - a._1) / 1000000L }.toSeq
    val ends = marks.toSeq.tail.map(_._2)
    val timeline = listener.ended.asScala.toSeq.sortBy(_._1).map {
      case (id, t0, t1, site) =>
        val phase = Phases.zip(ends)
          .collectFirst { case (p, end) if t0 < end => p }.getOrElse("exec")
        Job(id, t1 - t0, phase, site)
    }
    val (heavyMax, heavyMedian) = listener.heavyStage
    Record(label, buildMs, planMs, execMs,
      timeline.size, listener.stages.get.toInt, listener.tasks.get.toInt,
      listener.runMs.get, listener.cpuNs.get / 1000000L,
      listener.shuffleRead.get, listener.shuffleWrite.get, listener.spill.get,
      heavyMax, heavyMedian,
      compiles.getCount - compilesBefore,
      df.queryExecution.analyzed.collectWithSubqueries { case p => p }.size,
      sc.getPersistentRDDs.keys.count(id => !rddsBefore(id)),
      !spark.sharedState.cacheManager.isEmpty,
      timeline, df.queryExecution.explainString(FormattedMode),
      top(sampler.driverHits), top(sampler.executorHits))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile <sfDir> [query ...]")
    val dir = args.head
    val names =
      if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    val warmDir = new java.io.File(
      new java.io.File(dir).getAbsoluteFile.getParentFile, "sf0.001").getPath
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { q =>
      try {
        try SparkEntry.queries(q)(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
        catch { case NonFatal(_) => () }
        print(record(spark, q, dir).report)
      } catch {
        case NonFatal(e) => println(s"[profile] $q FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
