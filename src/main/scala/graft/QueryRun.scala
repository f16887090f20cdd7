package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The jobs and stages one piece of driver code ran; see [[QueryRun.record]]. */
final case class QueryRun(jobs: Seq[QueryRun.Job], stages: Seq[QueryRun.Stage]) {
  def shuffleRead: Long = stages.map(_.shuffleRead).sum
  def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
  def spillDisk: Long = stages.map(_.spillDisk).sum
  def spillMem: Long = stages.map(_.spillMem).sum
}

object QueryRun {

  /** One job. `end` is 0 if the job had not ended; `callSite` is the
    * innermost graft frame outside this recorder (else the short call
    * site) of the SQL action the job ran for, else of its last stage,
    * else of the action that created its newest RDD; `attributed` says
    * it is a graft frame. */
  final case class Job(id: Int, group: Option[String], start: Long, end: Long,
                       stageIds: Seq[Int], callSite: String) {
    def durationMs: Long = if (end > 0) end - start else -1L
    def attributed: Boolean = isGraftFrame(callSite)
  }

  /** One stage, in submission order. `durationMs` runs from submission
    * to completion (-1 if it did not complete); the byte counts are sums
    * over the stage's ended tasks. */
  final case class Stage(id: Int, name: String, durationMs: Long, tasks: Int,
                         shuffleRead: Long, shuffleWrite: Long,
                         spillDisk: Long, spillMem: Long)

  /** Run `body` with one listener attached and return what it recorded.
    * The listener bus is drained before the listener is added, so earlier
    * work cannot leak in, and again before it is removed, so every event
    * of `body`'s own jobs has arrived. */
  def record[T](spark: SparkSession)(body: => T): (T, QueryRun) = {
    val l = new Recorder
    GraftBridge.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val v = body
      GraftBridge.flushListenerBus(spark)
      (v, l.result())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def isGraftFrame(l: String): Boolean =
    l.contains("graft.") && !l.contains("graft.QueryRun")

  private def graftFrame(details: String): Option[String] =
    details.linesIterator.find(isGraftFrame)

  private final class StageAcc {
    var info: Option[StageInfo] = None
    var read, write, disk, mem = 0L
  }

  private final class Recorder extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stages = mutable.LinkedHashMap.empty[Int, StageAcc]
    // by SQL execution id: an action's stages may run on a pool thread
    private val actions = mutable.Map.empty[Long, String]
    // by an action's short call site, which is also the creation site of
    // the RDDs its plan made: a job over such an RDD that runs with no
    // execution id (MLlib computing a `Dataset.rdd` fills a cached table
    // from a pool thread) is that action's
    private val created = mutable.Map.empty[String, String]

    private def stage(id: Int): StageAcc = stages.getOrElseUpdate(id, new StageAcc)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        val site = graftFrame(x.details)
        actions(x.executionId) = site.getOrElse(x.description)
        site.foreach(created(x.description) = _)
      }
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val prop = (k: String) => Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("spark.sql.execution.id").flatMap(id => actions.get(id.toLong))
        .orElse(j.stageInfos.lastOption.flatMap(s => graftFrame(s.details)))
        .orElse(j.stageInfos.flatMap(_.rddInfos).sortBy(-_.id).map(_.callSite).collectFirst(created))
        .getOrElse(j.stageInfos.lastOption.fold("")(_.name))
      jobs(j.jobId) = Job(j.jobId, prop("spark.jobGroup.id"), j.time, 0L, j.stageIds, site)
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(j.jobId).foreach(job => jobs(j.jobId) = job.copy(end = j.time))
    }

    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
      stage(s.stageInfo.stageId).info = Some(s.stageInfo)
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      stage(s.stageInfo.stageId).info = Some(s.stageInfo)
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        val s = stage(t.stageId)
        s.read += m.shuffleReadMetrics.totalBytesRead
        s.write += m.shuffleWriteMetrics.bytesWritten
        s.disk += m.diskBytesSpilled
        s.mem += m.memoryBytesSpilled
      }
    }

    def result(): QueryRun = synchronized {
      QueryRun(jobs.values.toSeq, stages.toSeq.map { case (id, s) =>
        val dur = (for (i <- s.info; a <- i.submissionTime; b <- i.completionTime)
          yield b - a).getOrElse(-1L)
        Stage(id, s.info.fold("")(_.name), dur, s.info.fold(0)(_.numTasks),
          s.read, s.write, s.disk, s.mem)
      })
    }
  }
}
