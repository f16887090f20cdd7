package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer for the traced run: a SparkListener plus a
  * QueryExecutionListener registered by the benchmark, and spans the
  * harness opens around its calls into the program. Nothing here runs
  * inside the program; every job is attributed to a module from its
  * call site.
  *
  * Spans (name, start, end, parent, run id) and job records live in
  * memory until the run ends. Only work inside [[traced]] is recorded,
  * so the untraced operations a traced run interleaves for the
  * overhead figure leave no trace. */
final class Tracer(spark: SparkSession, val runId: String)
    extends SparkListener with QueryExecutionListener {

  /** The repo's modules, as layer names. */
  val modules: Seq[String] = Seq("Tables", "sources", "dedup", "pipeline",
    "search", "clustering", "relational", "text")

  final class JobRec(val id: Int, val phase: String, val start: Long,
                     val siteModule: Option[String], val schemaRead: Boolean) {
    @volatile var end: Long = 0L
    var stages = 0; var tasks = 0; var tasksFailed = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spillDisk = 0L; var spillMem = 0L; var inBytes = 0L; var outBytes = 0L
  }

  final case class Span(id: Int, name: String, parent: Int, phase: String,
                        start: Long, var end: Long = 0L)

  /** Per-phase totals of the driver-side counters (planning phases,
    * codegen compiles, traced wall). */
  final class PhaseTotals {
    val planMs: Array[Long] = Array(0L, 0L, 0L) // analysis, optimization, planning
    var compiles = 0L
    var wallMs = 0L
    var ops = 0
  }

  /** Recording phase: null while tracing is off; otherwise the window
    * (e.g. "build" or "ops") that jobs and counters are booked to. */
  @volatile private var phase: String = null
  private val phases = mutable.LinkedHashMap.empty[String, PhaseTotals]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  /** Module of each SQL execution, from the call site it started at. */
  private val execModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` as one traced operation booked to phase `p`. */
  def traced[T](p: String)(body: => T): T = {
    val tot = synchronized(phases.getOrElseUpdate(p, new PhaseTotals))
    flush() // events of earlier untraced work must not land in `p`
    val c0 = compileCount
    val t0 = System.currentTimeMillis()
    phase = p
    try body finally {
      flush()
      phase = null
      synchronized {
        tot.compiles += compileCount - c0
        tot.wallMs += System.currentTimeMillis() - t0
        tot.ops += 1
      }
    }
  }

  // ---- module attribution -------------------------------------------

  private val frame = """^\s*(?:at\s+)?graft\.([A-Za-z]+)[.$]""".r.unanchored

  /** Innermost `graft.<module>` frame of a call site that names one
    * of [[modules]]. */
  private def siteModule(site: String): Option[String] =
    site.split('\n').iterator.collectFirst {
      case frame(m) if modules.contains(m) => m
    }

  /** Innermost span open at `t`. Listener events arrive late, so this
    * is resolved from span intervals after the fact. */
  private def spanAt(t: Long): Option[Span] = synchronized {
    spans.filter(s => s.start <= t && (s.end == 0L || t <= s.end))
      .maxByOption(s => (s.start, s.id))
  }

  /** A job's module: its call site's, else that of the innermost
    * module-named span around its start (the harness call behind it). */
  def moduleOf(j: JobRec): String = j.siteModule.getOrElse {
    var s = spanAt(j.start)
    var m: Option[String] = None
    while (m.isEmpty && s.isDefined) {
      val name = s.get.name.takeWhile(_ != '.')
      if (modules.contains(name)) m = Some(name)
      else s = synchronized(spans.lift(s.get.parent))
    }
    m.getOrElse("other")
  }

  private def spansOf(p: String, keep: String => Boolean): Seq[Span] =
    synchronized(spans.filter(s => s.phase == p && keep(s.name)).toSeq)

  /** Jobs of phase `p` that started inside a span whose name passes `keep`. */
  def jobsIn(p: String, keep: String => Boolean): Seq[JobRec] = {
    val ivs = spansOf(p, keep).map(s => (s.start, s.end))
    jobsOf(p).filter(j => ivs.exists { case (a, b) => a <= j.start && j.start <= b })
  }

  /** Summed wall of the phase-`p` spans whose name passes `keep`. */
  def spanWall(p: String, keep: String => Boolean): Long =
    spansOf(p, keep).map(s => s.end - s.start).sum

  // ---- SparkListener ----------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = if (phase != null) {
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    // a job whose Spark-side top frame is the DataFrameReader was
    // launched while a read was being planned: parquet schema inference
    val top = site.linesIterator.take(1).mkString
    // adaptive execution submits stages from a pool thread, whose call
    // site has no program frame: take the SQL execution's instead
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execModule.get(id.toLong)))
    val rec = new JobRec(e.jobId, phase, e.time, siteModule(site).orElse(exec),
      top.contains("DataFrameReader"))
    synchronized { jobs += rec }
    e.stageIds.foreach(stageJob.put(_, rec))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      siteModule(s.details).foreach(execModule.put(s.executionId, _))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobs.find(_.id == e.jobId).foreach(_.end = e.time) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val r = stageJob.get(e.stageInfo.stageId)
    if (r != null) r.synchronized { r.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stageJob.get(e.stageId)
    if (r != null) r.synchronized {
      r.tasks += 1
      if (e.reason != Success) r.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime; r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        r.spillDisk += m.diskBytesSpilled; r.spillMem += m.memoryBytesSpilled
        r.inBytes += m.inputMetrics.bytesRead; r.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  // ---- QueryExecutionListener ---------------------------------------

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = phase
    if (p != null) synchronized {
      val tot = phases(p)
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").zipWithIndex.foreach { case (k, i) =>
        tot.planMs(i) += ph.get(k).map(_.durationMs).getOrElse(0L)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  // ---- spans --------------------------------------------------------

  /** Record `body` as a span while a phase is being traced. */
  def span[T](name: String)(body: => T): T = if (phase == null) body else {
    val s = synchronized {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), phase,
        System.currentTimeMillis())
      spans += s; open.push(s); s
    }
    try body finally synchronized { s.end = System.currentTimeMillis(); open.pop(); () }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    PerfbenchBridge.registerQueryListener(spark, this)
  }

  def flush(): Unit = PerfbenchBridge.flush(spark)

  // ---- summaries ------------------------------------------------------

  /** Wall time covered by the union of `ivs`. */
  private def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Traced operations booked to phase `p`, at least 1. */
  def opsIn(p: String): Int = synchronized(phases.get(p).map(_.ops).getOrElse(0)).max(1)

  def jobsOf(p: String): Seq[JobRec] = synchronized { jobs.filter(_.phase == p).toSeq }

  /** Job-busy milliseconds over a set of jobs. */
  def busyMs(js: Seq[JobRec]): Long = covered(js.map(j => (j.start, j.end)))

  /** Self time per span name: a span's duration minus the part of its
    * interval its child spans cover, summed over spans of that name. */
  def selfTimes(p: String): Map[String, Long] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.filter(_.phase == p).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start) -
        covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)).sum
    }.toMap
  }

  /** Engine and per-module layer metrics of phase `p`, per traced
    * operation of that phase. */
  def layerMetrics(p: String, cores: Int): Map[String, Double] = {
    flush()
    val js = jobsOf(p)
    val tot = synchronized(phases.getOrElse(p, new PhaseTotals))
    val n = math.max(tot.ops, 1).toDouble
    val busy = busyMs(js) / 1e3
    val taskRun = js.map(_.runMs).sum / 1e3
    def s(f: JobRec => Long) = js.map(f).sum.toDouble / n
    val engine = Map(
      "exec.jobs" -> js.size / n,
      "exec.stages" -> s(_.stages.toLong),
      "exec.tasks" -> s(_.tasks.toLong),
      "exec.tasks_failed" -> s(_.tasksFailed.toLong),
      "exec.job_busy_s" -> busy / n,
      "exec.driver_gap_s" -> math.max(0.0, tot.wallMs / 1e3 - busy) / n,
      "exec.task_run_s" -> taskRun / n,
      "exec.task_cpu_s" -> s(_.cpuNs) / 1e9,
      "exec.gc_s" -> s(_.gcMs) / 1e3,
      "exec.core_util" -> (if (busy > 0) taskRun / (busy * cores) else 0.0),
      "shuffle.write_bytes" -> s(_.shuffleWrite),
      "shuffle.read_bytes" -> s(_.shuffleRead),
      "shuffle.fetch_wait_s" -> s(_.fetchWaitMs) / 1e3,
      "spill.disk_bytes" -> s(_.spillDisk),
      "spill.mem_bytes" -> s(_.spillMem),
      "io.input_bytes" -> s(_.inBytes),
      "io.output_bytes" -> s(_.outBytes),
      "plan.analysis_ms" -> tot.planMs(0) / n,
      "plan.optimizer_ms" -> tot.planMs(1) / n,
      "plan.physical_ms" -> tot.planMs(2) / n,
      "codegen.compiles" -> tot.compiles / n,
      "tables.schema_jobs" -> js.count(_.schemaRead) / n,
      "tables.schema_s" -> busyMs(js.filter(_.schemaRead)) / 1e3 / n)
    val perModule = modules.flatMap { m =>
      val mj = js.filter(j => moduleOf(j) == m)
      Seq(s"$m.jobs" -> mj.size / n,
        s"$m.job_s" -> mj.map(j => j.end - j.start).sum / 1e3 / n,
        s"$m.task_s" -> mj.map(_.runMs).sum / 1e3 / n,
        s"$m.shuffle_bytes" -> mj.map(_.shuffleWrite).sum / n)
    }
    engine ++ perModule
  }

  def spansJson: String = synchronized {
    spans.map(s => Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "phase" -> s.phase, "start" -> s.start, "end" -> s.end, "run" -> runId)).mkString("[\n", ",\n", "\n]")
  }
}
