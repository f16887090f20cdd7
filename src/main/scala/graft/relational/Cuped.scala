package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** CUPED variance reduction (Deng et al. 2013) — the standard
  * experimentation trick on top of the plain A/B z-test
  * (`events_ab_test`) and DiD (`events_did_lift`): adjust each user's
  * post-period metric by their PRE-period baseline,
  * Y' = Y - theta * (X - mean(X)) with theta = cov(X,Y)/var(X), which
  * removes the between-user variance the pre-period already explains
  * and shrinks the experiment's confidence interval at zero bias.
  * Reports the naive and CUPED-adjusted lifts and the measured
  * variance-reduction share.
  *
  * Design: pre = first half of the event month, post = second half
  * (the DiD calendar-midpoint convention); cohort = user parity;
  * X/Y = per-user micro-unit value sums (users missing a period
  * contribute 0 — the standard all-randomized-units convention).
  *
  * Determinism: all moment sums (Sx, Sy, Sxy, Sxx, Syy) are exact
  * DECIMAL(38,0) aggregates of integer micro-units; theta is ONE
  * double division of exact decimals; every reported statistic is an
  * identical IEEE expression of those exact integers and theta,
  * rounded 6 on both sides.
  *
  * Scale shape: one corpus pass into a per-user aggregate (hash
  * partition on user), then a 2-group + 1-row reduce. */
object Cuped extends graft.Registry {

  private val CUT = "2024-01-16 00:00:00"

  def qCuped(spark: SparkSession, dir: String): DataFrame =
    cupedOf(t(spark, dir, "events")
      .select(col("user_id"),
        when(col("ts") < lit(CUT).cast("timestamp"), lit("pre"))
          .otherwise(lit("post")).as("period"),
        expr("CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)")
          .as("v")))

  /** [[qCuped]] over any (user_id, period in {pre,post}, v) frame. */
  private[relational] def cupedOf(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id")
      .agg(sum(when(col("period") === "pre", col("v")).otherwise(0L)).as("x"),
        sum(when(col("period") === "post", col("v")).otherwise(0L)).as("y"))
      .withColumn("grp",
        when(col("user_id") % 2 === 1, "treat").otherwise("ctrl"))
    val m = perUser.agg(
      count(lit(1)).as("n"),
      sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("theta", expr(
        "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)"))
    val g = perUser.groupBy("grp")
      .agg(count(lit(1)).as("gn"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("gsx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("gsy"))
    val wide = g.groupBy()
      .agg(sum(when(col("grp") === "treat", col("gn"))).as("n_treat"),
        sum(when(col("grp") === "ctrl", col("gn"))).as("n_ctrl"),
        sum(when(col("grp") === "treat", col("gsx"))).as("sx_t"),
        sum(when(col("grp") === "ctrl", col("gsx"))).as("sx_c"),
        sum(when(col("grp") === "treat", col("gsy"))).as("sy_t"),
        sum(when(col("grp") === "ctrl", col("gsy"))).as("sy_c"))
    wide.crossJoin(broadcast(m))
      .withColumn("my_t", expr("CAST(sy_t AS DOUBLE) / n_treat / 1e6"))
      .withColumn("my_c", expr("CAST(sy_c AS DOUBLE) / n_ctrl / 1e6"))
      .withColumn("mx_t", expr("CAST(sx_t AS DOUBLE) / n_treat / 1e6"))
      .withColumn("mx_c", expr("CAST(sx_c AS DOUBLE) / n_ctrl / 1e6"))
      .withColumn("mx", expr("CAST(sx AS DOUBLE) / n / 1e6"))
      // var(Y - theta X) = var(Y) - 2 theta cov + theta^2 var(X), all
      // from the exact pooled moments
      .withColumn("var_y", expr(
        "CAST(n * syy - sy * sy AS DOUBLE) / CAST(n AS DOUBLE) / n / 1e12"))
      .withColumn("var_adj", expr(
        """(CAST(n * syy - sy * sy AS DOUBLE)
          |  - 2 * theta * CAST(n * sxy - sx * sy AS DOUBLE)
          |  + theta * theta * CAST(n * sxx - sx * sx AS DOUBLE))
          |/ CAST(n AS DOUBLE) / n / 1e12""".stripMargin))
      .select(col("n_treat"), col("n_ctrl"),
        round(col("theta"), 6).as("theta"),
        round(expr("my_t - my_c"), 6).as("lift_naive"),
        round(expr(
          "(my_t - theta * (mx_t - mx)) - (my_c - theta * (mx_c - mx))"), 6)
          .as("lift_cuped"),
        round(expr("(1.0 - var_adj / var_y) * 100.0"), 6)
          .as("var_reduction_pct"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_cuped" -> (qCuped _))

  val oracleSql: Map[String, String] = Map(
    "events_cuped" ->
      s"""WITH ev AS (
         |  SELECT user_id,
         |    CASE WHEN ts < TIMESTAMP '$CUT' THEN 'pre' ELSE 'post' END AS period,
         |    CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS v
         |  FROM events),
         |pu AS (
         |  SELECT user_id,
         |    sum(CASE WHEN period = 'pre' THEN v ELSE 0 END) AS x,
         |    sum(CASE WHEN period = 'post' THEN v ELSE 0 END) AS y,
         |    CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'ctrl' END AS grp
         |  FROM ev GROUP BY user_id),
         |m AS (
         |  SELECT count(*) AS n,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx,
         |    sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM pu),
         |mt AS (SELECT *,
         |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
         |      AS theta
         |  FROM m),
         |w AS (
         |  SELECT
         |    sum(CASE WHEN grp = 'treat' THEN 1 ELSE 0 END) AS n_treat,
         |    sum(CASE WHEN grp = 'ctrl' THEN 1 ELSE 0 END) AS n_ctrl,
         |    sum(CASE WHEN grp = 'treat' THEN CAST(x AS HUGEINT) ELSE 0 END) AS sx_t,
         |    sum(CASE WHEN grp = 'ctrl' THEN CAST(x AS HUGEINT) ELSE 0 END) AS sx_c,
         |    sum(CASE WHEN grp = 'treat' THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy_t,
         |    sum(CASE WHEN grp = 'ctrl' THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy_c
         |  FROM pu),
         |x AS (
         |  SELECT w.*, mt.*,
         |    CAST(sy_t AS DOUBLE) / n_treat / 1e6 AS my_t,
         |    CAST(sy_c AS DOUBLE) / n_ctrl / 1e6 AS my_c,
         |    CAST(sx_t AS DOUBLE) / n_treat / 1e6 AS mx_t,
         |    CAST(sx_c AS DOUBLE) / n_ctrl / 1e6 AS mx_c,
         |    CAST(sx AS DOUBLE) / n / 1e6 AS mx,
         |    CAST(n * syy - sy * sy AS DOUBLE) / CAST(n AS DOUBLE) / n / 1e12
         |      AS var_y,
         |    (CAST(n * syy - sy * sy AS DOUBLE)
         |      - 2 * theta * CAST(n * sxy - sx * sy AS DOUBLE)
         |      + theta * theta * CAST(n * sxx - sx * sx AS DOUBLE))
         |    / CAST(n AS DOUBLE) / n / 1e12 AS var_adj
         |  FROM w CROSS JOIN mt)
         |SELECT CAST(n_treat AS BIGINT) AS n_treat,
         |  CAST(n_ctrl AS BIGINT) AS n_ctrl,
         |  round(theta, 6) AS theta,
         |  round(my_t - my_c, 6) AS lift_naive,
         |  round((my_t - theta * (mx_t - mx)) - (my_c - theta * (mx_c - mx)), 6)
         |    AS lift_cuped,
         |  round((1.0 - var_adj / var_y) * 100.0, 6) AS var_reduction_pct
         |FROM x""".stripMargin)
}
