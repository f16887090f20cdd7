package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

import graft.{QueryRun, Session, SparkEntry, Tables}

/** Per-job wall-clock breakdown of a named registry query — the
  * measurement companion to PlanDump (guide §1: decide whether a
  * query's time is one big stage or many small scheduler round-trips
  * before touching it).
  *
  * Usage: runMain graft.tools.JobProfile <q1,q2,...>
  * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_GRAFT_REPS
  * (Bench conventions). Runs each query REPS times (default 2) with
  * the same `.count()` action Bench times; prints, for the LAST rep,
  * one line per job (job id, duration, #stages, call site) and per
  * stage, plus the rep totals and its whole-stage-codegen compile
  * count, so steady-state cost attribution is read straight off the
  * output. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: JobProfile <q1,q2,...>")
    val names = SparkEntry.select(args(0))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(2)
    val spark = Session()
    Tables.warm(spark, sfDir)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val (wall, compiles, run) = (1 to reps).map { _ =>
        // compiled-source count delta across the rep: driver time
        // invisible to job durations (the "gap" suspect)
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val (wall, run) = QueryRun.record(spark) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        // SPARK_GRAFT_PROFILE_KEEPCACHE=1 keeps cached frames across
        // reps — matches Bench, which clears only AFTER a query's
        // reps, so memo-staged cached state survives into rep 2+ and
        // the last rep profiles the STEADY state, not a rebuild
        if (!sys.env.get("SPARK_GRAFT_PROFILE_KEEPCACHE").contains("1"))
          spark.catalog.clearCache()
        (wall, compiles, run)
      }.last
      def secs(ms: Long): Double = if (ms < 0) -1.0 else ms / 1e3
      println(f"== $name: last-rep wall $wall%.3f s, ${run.jobs.size} jobs ==")
      run.jobs.foreach { j =>
        println(f"  job ${j.id}%3d  ${secs(j.durationMs)}%7.3f s  stages=${j.stageIds.size}  ${j.callSite.take(110)}")
      }
      run.stages.foreach { s =>
        println(f"    stage ${s.id}%3d ${secs(s.durationMs)}%7.3f s tasks=${s.tasks}%3d  ${s.name.take(90)}")
      }
      val sum = run.jobs.filter(_.end > 0).map(j => secs(j.durationMs)).sum
      println(f"  [sum of job durations $sum%.3f s; gaps = driver/planning time]")
      println(s"  [last-rep codegen: $compiles compiles]")
    }
    spark.stop()
  }
}
