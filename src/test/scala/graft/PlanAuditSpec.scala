package graft

import graft.clustering.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Blanket physical-plan audit over EVERY registered query — the
  * SURVEY §5 scale rules enforced as failing tests for any future
  * query, not just the family that first hit them:
  *   - no CartesianProduct anywhere;
  *   - no single-buffer exact `percentile` aggregate;
  *   - no codegen fallback: every WholeStageCodegen subtree must
  *     compile under janino's 64 KB method limit. Round 9 found
  *     `simsearch_pq_distortion` silently running INTERPRETED after a
  *     "Code grows beyond 64 KB" WARN — correct answers, wrong plan
  *     at 100x. This gate catches the next overflow two ways: an
  *     explicit doCodeGen+compile pass over each query's plan (AQE
  *     disabled during the audit so the WSCG subtrees exist without
  *     executing), and a log4j2 appender that captures fallback WARNs
  *     fired by the driver-loop queries that execute their inner jobs
  *     during construction.
  */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private case class Audit(cartesian: Seq[String], percentile: Seq[String],
                           compileFailures: Seq[String], fallbackWarns: Seq[String],
                           globalWindows: Seq[String])

  /** An UNPARTITIONED window sorts the whole input on one reducer —
    * fine over a bounded frame (a day-keyed aggregate, a post-limit
    * top-k), a scale-killer over a corpus-sized one. */
  private def globalWindowsIn(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
    plan.collectFirst {
      case w: org.apache.spark.sql.execution.window.WindowExecBase
          if w.partitionSpec.isEmpty => w
    }.nonEmpty

  /** One pass over the registry, shared by all tests below. */
  private lazy val audit: Audit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
      "graft-codegen-audit", null, null, false, Array.empty) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("Whole-stage codegen disabled") ||
            msg.contains("Code grows beyond") ||
            msg.contains("failed to compile")) warns.add(msg.linesIterator.next())
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val hooked = Seq(
      classOf[WholeStageCodegenExec].getName,
      CodeGenerator.getClass.getName.stripSuffix("$"))
    val restores = hooked.map { name =>
      val existing = cfg.getLoggerConfig(name)
      val lc =
        if (existing.getName == name) existing
        else { val n = new LoggerConfig(name, Level.WARN, true); cfg.addLogger(name, n); n }
      val prev = lc.getLevel
      if (prev != null && prev.isMoreSpecificThan(Level.WARN)) lc.setLevel(Level.WARN)
      lc.addAppender(appender, Level.WARN, null)
      (lc, prev)
    }
    ctx.updateLoggers()

    val cartesian = Seq.newBuilder[String]
    val percentile = Seq.newBuilder[String]
    val compileFailures = Seq.newBuilder[String]
    val globalWindows = Seq.newBuilder[String]
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        // driver-loop queries (lloyd, GKA, IVF...) run their inner jobs
        // HERE (the appender sees any codegen fallback they fire) and
        // return a literal frame; lazy queries return their full plan,
        // whose WSCG subtrees are compiled explicitly below
        val plan = fn(spark, sf).queryExecution.executedPlan
        val planStr = plan.toString
        if (planStr.contains("CartesianProduct")) cartesian += name
        // SURVEY §5 round-6 rule: the exact `percentile` aggregate holds
        // every distinct value in ONE buffer on one reducer — quantiles
        // must go through graft.relational.Quantiles instead.
        // (percentile_approx / ApproximatePercentile is bounded and fine.)
        if (planStr.contains("percentile(")) percentile += name
        if (globalWindowsIn(plan)) globalWindows += name
        plan.foreach {
          case w: WholeStageCodegenExec =>
            // two fallback flavors (round-10 advice): janino throwing
            // (64 KB overflow -> catch), and a clean compile whose
            // largest method still exceeds hugeMethodLimit — Spark's
            // doExecute silently drops THAT to interpreted too, so the
            // gate mirrors its maxMethodCodeSize check
            try {
              val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2)
              val limit = spark.sessionState.conf.hugeMethodLimit
              if (stats.maxMethodCodeSize > limit)
                compileFailures += s"$name: maxMethodCodeSize " +
                  s"${stats.maxMethodCodeSize} > hugeMethodLimit $limit"
            } catch { case e: Exception =>
              compileFailures += s"$name: ${String.valueOf(e.getMessage).take(160)}" }
          case _ => ()
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      restores.foreach { case (lc, prev) =>
        lc.removeAppender(appender.getName)
        if (prev != null) lc.setLevel(prev)
      }
      ctx.updateLoggers()
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    Audit(cartesian.result(), percentile.result(),
      compileFailures.result(), warns.asScala.toSeq, globalWindows.result())
  }

  /** Queries KNOWN to plan an unpartitioned window over a frame that
    * is provably bounded BEFORE the window sorts it (round-11 verdict
    * audit, re-justified here so the whitelist stays reviewable). Any
    * new query that plans a global window must either bound its frame
    * and be added here with a justification, or partition the window. */
  private val boundedGlobalWindowQueries = Set(
    "text_zipf",                    // rank over a post-limit(100) head
    "text_bm25",                    // rank over a post-limit(10) head
    "orders_daily_cumulative",      // running total over day-keyed aggregates (calendar-bounded)
    "orders_backtest_snaive",       // same day-bounded daily series
    "dedup_embed_threshold_curve",  // cumulative counts over a ~20-point threshold grid
    "dedup_minhash_agreement_curve", // cumulative counts over the signature-agreement grid
    "text_quality_clf_eval",        // AUC cumulative over DISTINCT round-6 scores (<= 1e6+1 rows at any corpus size)
    "orders_gini",                  // stripe census cumulative (rows = max revenue / $100k, value-bounded) + 10-row Lorenz deciles
    "orders_churn_km",              // at-risk/KM cumulatives over the 26-row week frame
    "orders_mom_growth",            // lag/rolling over the calendar-month frame (~80 rows)
    "orders_repeat_rate",           // (no global window; listed defensively with the cohort family) -- calendar-month frame
    "text_heaps",                   // OLS moment cumulatives over the 10-row checkpoint frame
    "events_markov_entropy",        // entropy-rate cumulative over the <=|event types| state frame
    "pipeline_interleave",          // source-index + prefix cumulative over (sources) and (10 deciles) frames
    "orders_ks_test",               // stripe-census offsets over the value-bounded stripe frame
    "events_attribution_compare"    // rank windows over the <=|channels| frame
  )

  test("no registered query plans a CartesianProduct or a single-buffer exact percentile") {
    assert(audit.cartesian.isEmpty,
      s"cartesian products in: ${audit.cartesian.mkString(", ")}")
    assert(audit.percentile.isEmpty,
      s"single-buffer exact percentile in: ${audit.percentile.mkString(", ")}")
  }

  test("no registered query falls back to interpreted execution (janino 64 KB gate)") {
    assert(audit.compileFailures.isEmpty,
      s"codegen compile failures: ${audit.compileFailures.mkString("; ")}")
    assert(audit.fallbackWarns.isEmpty,
      s"codegen fallback warnings during query construction: ${audit.fallbackWarns.mkString("; ")}")
  }

  test("the codegen gate is not vacuous: the round-9 overflow shape is caught") {
    // positive control — rebuild the formulation simsearch_pq_distortion
    // shipped in round 9 (M x K' = 128 unrolled literal-center distance
    // trees in ONE Project) and assert the same doCodeGen+compile walk
    // the audit uses DOES reject it, so a future overflow cannot pass
    // the gate silently
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.functions._
    import graft.clustering.Points
    val centers = Array.tabulate(8, 16, 8)((s, j, d) => (s + j + d + 1).toDouble)
    val cols = (0 until 8).map { s =>
      val sd = Points.embedDims.slice(s * 8, (s + 1) * 8)
      array_min(array(centers(s).map(c => Points.distTo(c, sd)): _*)).as(s"d_$s")
    }
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Points.embeddings64(spark, sf).select(cols: _*)
        .queryExecution.executedPlan
      val failed = plan.collect { case w: WholeStageCodegenExec =>
        try { CodeGenerator.compile(w.doCodeGen()._2); false }
        catch { case _: Exception => true }
      }
      assert(failed.contains(true),
        "the 128-tree unrolled projection must fail the compile gate")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("unpartitioned windows appear only above known bounded frames") {
    val offenders = audit.globalWindows.distinct.sorted
      .filterNot(boundedGlobalWindowQueries)
    assert(offenders.isEmpty,
      s"corpus-sized global window risk in: ${offenders.mkString(", ")} — " +
        "bound the frame and whitelist with a justification, or partition the window")
  }

  test("the global-window gate is not vacuous: a corpus-sized global window is caught") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the shape the gate exists to block: row_number over the WHOLE
    // documents table with no partition key — one reducer sorts the
    // corpus. AQE off as in the audit pass: AdaptiveSparkPlanExec
    // hides the WindowExec from a plan walk until execution.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val violation = graft.Tables.t(spark, sf, "documents")
        .withColumn("rn", row_number().over(Window.orderBy("doc_id")))
      assert(globalWindowsIn(violation.queryExecution.executedPlan),
        "the detector must flag an unpartitioned corpus-wide window")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("no registered query leaks a cached frame") {
    // the audit pass constructed every query (running each driver
    // loop's internal jobs); any cache a query failed to release is
    // still registered now
    audit
    assert(spark.sharedState.cacheManager.isEmpty,
      "a query left a cached DataFrame behind")
  }
}
