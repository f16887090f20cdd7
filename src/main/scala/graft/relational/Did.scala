package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Difference-in-differences lift estimation — the standard
  * quasi-experimental readout when a feature launches mid-stream for
  * one cohort: did = (treat_post - treat_pre) - (ctrl_post - ctrl_pre)
  * of the mean event value, which nets out both the pre-existing
  * cohort gap and the common time trend the naive post-only compare
  * confounds. Cohort = the standing user_id parity convention; period
  * splits at the calendar midpoint of the fixed event month.
  *
  * Determinism: values quantize to exact integer micro-units at read
  * (round(value*1e6) on identical doubles), per-cell sums are BIGINT,
  * each mean is an exact signed HALF_UP integer division to
  * micro-units, and the DiD is integer arithmetic on those means — no
  * raw double sum, no order-dependence. Outputs divide the final
  * integers by 1e6 (same integer -> same double both engines).
  *
  * Scale shape: ONE corpus pass into a (event_type x 2 x 2)-bounded
  * partial aggregate, then driver-free integer projection — nothing
  * grows with the corpus. */
object Did extends graft.Registry {

  private val CUT = "2024-01-16 00:00:00"

  /** Exact signed HALF_UP micro-unit mean: round(1e6 * s / n) with s
    * possibly negative — integer division truncates toward zero, so
    * mirror on the sign. `div` is "DIV" in Spark, "//" in DuckDB. */
  private def meanMicro(s: String, n: String, div: String): String =
    s"CASE WHEN $s >= 0 THEN (2 * $s + $n) $div (2 * $n) " +
      s"ELSE -((2 * -($s) + $n) $div (2 * $n)) END"

  def qDidLift(spark: SparkSession, dir: String): DataFrame = {
    val cells = t(spark, dir, "events")
      .withColumn("grp",
        when(col("user_id") % 2 === 1, "treat").otherwise("ctrl"))
      .withColumn("period",
        when(col("ts") < lit(CUT).cast("timestamp"), "pre").otherwise("post"))
      .withColumn("v_micro",
        expr("CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)"))
      .groupBy("event_type", "grp", "period")
      .agg(sum("v_micro").as("s"), count(lit(1)).as("n"))
      .withColumn("mean_micro", expr(meanMicro("s", "n", "DIV")))
    // pivot the 4 cells per event_type into one row, integer DiD
    cells.groupBy("event_type")
      .agg(
        sum(when(col("grp") === "treat" && col("period") === "pre", col("n"))).as("n_treat_pre"),
        sum(when(col("grp") === "treat" && col("period") === "post", col("n"))).as("n_treat_post"),
        sum(when(col("grp") === "ctrl" && col("period") === "pre", col("n"))).as("n_ctrl_pre"),
        sum(when(col("grp") === "ctrl" && col("period") === "post", col("n"))).as("n_ctrl_post"),
        sum(when(col("grp") === "treat" && col("period") === "pre", col("mean_micro"))).as("m_tpre"),
        sum(when(col("grp") === "treat" && col("period") === "post", col("mean_micro"))).as("m_tpost"),
        sum(when(col("grp") === "ctrl" && col("period") === "pre", col("mean_micro"))).as("m_cpre"),
        sum(when(col("grp") === "ctrl" && col("period") === "post", col("mean_micro"))).as("m_cpost"))
      .filter(col("n_treat_pre").isNotNull && col("n_treat_post").isNotNull &&
        col("n_ctrl_pre").isNotNull && col("n_ctrl_post").isNotNull)
      .select(col("event_type"),
        col("n_treat_pre"), col("n_treat_post"),
        col("n_ctrl_pre"), col("n_ctrl_post"),
        (col("m_tpre").cast("double") / 1e6).as("mean_treat_pre"),
        (col("m_tpost").cast("double") / 1e6).as("mean_treat_post"),
        (col("m_cpre").cast("double") / 1e6).as("mean_ctrl_pre"),
        (col("m_cpost").cast("double") / 1e6).as("mean_ctrl_post"),
        (((col("m_tpost") - col("m_tpre")) - (col("m_cpost") - col("m_cpre")))
          .cast("double") / 1e6).as("did"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_did_lift" -> (qDidLift _))

  val oracleSql: Map[String, String] = Map(
    "events_did_lift" -> {
      val mm = meanMicro("s", "n", "//")
      s"""WITH cells AS (
         |  SELECT event_type,
         |    CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'ctrl' END AS grp,
         |    CASE WHEN ts < TIMESTAMP '$CUT' THEN 'pre' ELSE 'post' END AS period,
         |    sum(CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM events GROUP BY 1, 2, 3),
         |m AS (SELECT event_type, grp, period, n, $mm AS mean_micro FROM cells),
         |p AS (SELECT event_type,
         |    max(CASE WHEN grp = 'treat' AND period = 'pre' THEN n END) AS n_treat_pre,
         |    max(CASE WHEN grp = 'treat' AND period = 'post' THEN n END) AS n_treat_post,
         |    max(CASE WHEN grp = 'ctrl' AND period = 'pre' THEN n END) AS n_ctrl_pre,
         |    max(CASE WHEN grp = 'ctrl' AND period = 'post' THEN n END) AS n_ctrl_post,
         |    max(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean_micro END) AS m_tpre,
         |    max(CASE WHEN grp = 'treat' AND period = 'post' THEN mean_micro END) AS m_tpost,
         |    max(CASE WHEN grp = 'ctrl' AND period = 'pre' THEN mean_micro END) AS m_cpre,
         |    max(CASE WHEN grp = 'ctrl' AND period = 'post' THEN mean_micro END) AS m_cpost
         |  FROM m GROUP BY 1)
         |SELECT event_type,
         |  CAST(n_treat_pre AS BIGINT) AS n_treat_pre,
         |  CAST(n_treat_post AS BIGINT) AS n_treat_post,
         |  CAST(n_ctrl_pre AS BIGINT) AS n_ctrl_pre,
         |  CAST(n_ctrl_post AS BIGINT) AS n_ctrl_post,
         |  CAST(m_tpre AS DOUBLE) / 1e6 AS mean_treat_pre,
         |  CAST(m_tpost AS DOUBLE) / 1e6 AS mean_treat_post,
         |  CAST(m_cpre AS DOUBLE) / 1e6 AS mean_ctrl_pre,
         |  CAST(m_cpost AS DOUBLE) / 1e6 AS mean_ctrl_post,
         |  CAST((m_tpost - m_tpre) - (m_cpost - m_cpre) AS DOUBLE) / 1e6 AS did
         |FROM p
         |WHERE n_treat_pre IS NOT NULL AND n_treat_post IS NOT NULL
         |  AND n_ctrl_pre IS NOT NULL AND n_ctrl_post IS NOT NULL""".stripMargin
    })
}
