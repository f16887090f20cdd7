package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Experiment power / sample-size planner — the pre-registration
  * table every A/B program keeps: per event type, from the observed
  * per-user metric distribution, the sample size per arm needed to
  * detect a 5% relative lift at alpha = 0.05 (two-sided) and 80%
  * power:
  *
  *   n = 2 * (z_{a/2} + z_b)^2 * sigma^2 / delta^2
  *
  * The planning complement to the after-the-fact `events_ab_test` /
  * `events_cuped` readouts.
  *
  * Determinism: per-user metrics are exact micro-unit integer sums;
  * mean and variance come from exact DECIMAL(38,0) moment sums; the
  * z-constant is one Scala double literal interpolated into both
  * engines; n_required is ceil() of an identical IEEE expression.
  *
  * Scale shape: one corpus pass into a (type x user) aggregate, then
  * a type-bounded moment reduce. */
object Power extends graft.Registry {

  /** 2 * (z_0.975 + z_0.80)^2 */
  private val ZC: Double = {
    val za = 1.9599639845400545 // Phi^-1(0.975)
    val zb = 0.8416212335729143 // Phi^-1(0.80)
    2.0 * (za + zb) * (za + zb)
  }
  private val MDE_REL = 0.05

  def qMdePower(spark: SparkSession, dir: String): DataFrame =
    mdePowerOf(t(spark, dir, "events")
      .select(col("event_type"), col("user_id"),
        expr("CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)")
          .as("v")))

  /** [[qMdePower]] over any (event_type, user_id, v) frame. */
  private[relational] def mdePowerOf(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("event_type", "user_id")
      .agg(sum("v").as("x"))
    perUser.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .withColumn("mean_value", expr("CAST(sx AS DOUBLE) / n_users / 1e6"))
      .withColumn("variance", expr(
        "CAST(n_users * sxx - sx * sx AS DOUBLE) / CAST(n_users AS DOUBLE) / n_users / 1e12"))
      .withColumn("mde_abs", expr(s"$MDE_REL * mean_value"))
      .select(col("event_type"), col("n_users"),
        round(col("mean_value"), 6).as("mean_value"),
        round(col("variance"), 6).as("variance"),
        round(col("mde_abs"), 6).as("mde_abs"),
        expr(s"CAST(ceil($ZC * variance / (mde_abs * mde_abs)) AS BIGINT)")
          .as("n_required_per_arm"))
  }

  // ---- sample-ratio-mismatch health check ----------------------------

  /** chi-square(1) critical value at alpha = 0.001 — the conventional
    * SRM alarm threshold (SRM checks run continuously, so the alarm
    * uses a stricter alpha than the readout tests). */
  private val SRM_CRIT = 10.828

  /** Sample-ratio mismatch check — the first experiment-health gate:
    * under the 50/50 parity assignment the treat/ctrl USER counts
    * must match a fair split; chi2 = (n_treat - n_ctrl)^2 / n flags
    * randomization/logging bugs before any metric is read.
    *
    * Determinism: distinct-user counts are exact; chi2 is one HALF_UP
    * division of exact integers; the flag is decided in EXACT integer
    * form d*d*1000 > crit*1000*n (the watermark-flag convention — the
    * double never reaches the comparison). */
  def qSrmCheck(spark: SparkSession, dir: String): DataFrame =
    srmCheckOf(t(spark, dir, "events").select("user_id"))

  /** [[qSrmCheck]] over any (user_id) frame. */
  private[relational] def srmCheckOf(events: DataFrame): DataFrame =
    events.distinct()
      .agg(count(lit(1)).as("n_users"),
        sum(expr("CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END")).as("n_treat"),
        sum(expr("CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END")).as("n_ctrl"))
      .withColumn("d", col("n_treat") - col("n_ctrl"))
      .select(col("n_users"), col("n_treat"), col("n_ctrl"),
        expr("""CAST((2 * d * d * 1000000 + n_users)
               |     DIV (2 * n_users) AS DOUBLE) / 1000000.0""".stripMargin)
          .as("chi2"),
        expr(s"CAST(CASE WHEN d * d * 1000 > ${(SRM_CRIT * 1000).toLong} * n_users" +
          " THEN 1 ELSE 0 END AS BIGINT)").as("srm_flag"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_mde_power" -> (qMdePower _),
    "events_srm_check" -> (qSrmCheck _))

  val oracleSql: Map[String, String] = Map(
    "events_mde_power" ->
      s"""WITH pu AS (
         |  SELECT event_type, user_id,
         |    sum(CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)) AS x
         |  FROM events GROUP BY 1, 2),
         |m AS (
         |  SELECT event_type, count(*) AS n_users,
         |    sum(CAST(x AS HUGEINT)) AS sx,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx
         |  FROM pu GROUP BY 1),
         |s AS (
         |  SELECT event_type, n_users,
         |    CAST(sx AS DOUBLE) / n_users / 1e6 AS mean_value,
         |    CAST(n_users * sxx - sx * sx AS DOUBLE)
         |      / CAST(n_users AS DOUBLE) / n_users / 1e12 AS variance
         |  FROM m),
         |e AS (SELECT *, $MDE_REL * mean_value AS mde_abs FROM s)
         |SELECT event_type, CAST(n_users AS BIGINT) AS n_users,
         |  round(mean_value, 6) AS mean_value,
         |  round(variance, 6) AS variance,
         |  round(mde_abs, 6) AS mde_abs,
         |  CAST(ceil($ZC * variance / (mde_abs * mde_abs)) AS BIGINT)
         |    AS n_required_per_arm
         |FROM e""".stripMargin,
    "events_srm_check" ->
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |c AS (SELECT count(*) AS n_users,
         |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_treat,
         |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_ctrl
         |  FROM u),
         |d AS (SELECT *, n_treat - n_ctrl AS d FROM c)
         |SELECT CAST(n_users AS BIGINT) AS n_users,
         |  CAST(n_treat AS BIGINT) AS n_treat,
         |  CAST(n_ctrl AS BIGINT) AS n_ctrl,
         |  CAST((2 * d * d * 1000000 + n_users)
         |       // (2 * n_users) AS DOUBLE) / 1000000.0 AS chi2,
         |  CAST(CASE WHEN d * d * 1000 > ${(SRM_CRIT * 1000).toLong} * n_users
         |       THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
         |FROM d""".stripMargin)
}
