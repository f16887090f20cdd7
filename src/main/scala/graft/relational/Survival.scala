package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Discrete-time repurchase survival: Kaplan-Meier curve + weekly
  * hazard of the first-to-second-order gap, with right-censoring at
  * the observation horizon — the churn readout subscription and
  * marketplace analytics run on every cohort (the LTV triangle
  * `orders_ltv_cohorts` reports realized revenue; this reports the
  * probability shape of coming back at all).
  *
  * Study design: per customer, t = weeks from first order to second
  * order (event) or to the horizon (censored), truncated at W weeks.
  * For week w: at_risk = customers still unresolved entering w,
  * events = second orders landing in w, hazard_w = events/at_risk,
  * KM survival S(w) = prod_{v<=w} (1 - hazard_v).
  *
  * Determinism: week indices are exact integer date arithmetic; the
  * at-risk counts come from a cumulative over the W-row week frame
  * (bounded, calendar-class); hazard is the exact-integer HALF_UP
  * 6-dp division (the Mix idiom — no floating step at all); the KM
  * product is exp(running sum of
  * ln(1 - d/n)) where the running sum is an ORDERED window — both
  * engines accumulate the identical doubles in identical week order
  * (ln/exp libm parity is the standing convention, cf. the LM-scoring
  * family).
  *
  * Scale shape: one row_number window PARTITIONED BY customer (never
  * global), a per-customer 1-row reduce, two tiny week censuses, and
  * the W-row frame. Nothing after the per-customer reduce grows with
  * the corpus. */
object Survival extends graft.Registry {

  private val W = 26 // study horizon, weeks
  private val HORIZON = "2001-08-01" // max order date in the corpus

  def qChurnKm(spark: SparkSession, dir: String): DataFrame =
    churnKmOf(spark, t(spark, dir, "orders")
      .select("o_custkey", "o_orderdate", "o_orderkey"))

  /** [[qChurnKm]] over any (o_custkey, o_orderdate, o_orderkey). */
  private[relational] def churnKmOf(spark: SparkSession, orders: DataFrame): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val firstTwo = orders
      .withColumn("rn", row_number().over(byCust))
      .filter(col("rn") <= 2)
      .groupBy("o_custkey")
      .agg(min(when(col("rn") === 1, col("o_orderdate"))).as("fd"),
        min(when(col("rn") === 2, col("o_orderdate"))).as("sd"))
    val spans = firstTwo
      .withColumn("event_week",
        expr("datediff(sd, fd) DIV 7 + 1")) // null when no second order
      .withColumn("censor_week",
        expr(s"datediff(DATE '$HORIZON', fd) DIV 7 + 1"))
      .withColumn("obs_week",
        expr(s"least(coalesce(event_week, ${W + 1}), censor_week, $W)"))
      .withColumn("is_event",
        expr(s"event_week IS NOT NULL AND event_week <= least(censor_week, $W)"))
    val nTotal = spans.agg(count(lit(1)).as("n_total"))
    val endings = spans.groupBy("obs_week").agg(count(lit(1)).as("ending"))
    val events = spans.filter(col("is_event"))
      .groupBy("obs_week").agg(count(lit(1)).as("d"))
    val weeks = spark.range(1, W + 1).toDF("week")
    val cumPrevW = Window.orderBy("week")
      .rowsBetween(Window.unboundedPreceding, -1)
    val kmW = Window.orderBy("week")
      .rowsBetween(Window.unboundedPreceding, 0)
    weeks
      .join(endings.withColumnRenamed("obs_week", "week"), Seq("week"), "left")
      .join(events.withColumnRenamed("obs_week", "week"), Seq("week"), "left")
      .crossJoin(broadcast(nTotal))
      .withColumn("ending", coalesce(col("ending"), lit(0L)))
      .withColumn("d", coalesce(col("d"), lit(0L)))
      .withColumn("at_risk",
        col("n_total") - coalesce(sum("ending").over(cumPrevW), lit(0L)))
      .filter(col("at_risk") > 0)
      // d = at_risk (every remaining customer converts) would be
      // ln(0): Spark yields NULL there, DuckDB -inf — handle the
      // absorbing week explicitly and pin survival to 0 from then on
      .withColumn("lnterm",
        when(col("d") < col("at_risk"),
          expr("ln(1.0 - CAST(d AS DOUBLE) / at_risk)")).otherwise(lit(0.0)))
      .withColumn("absorbed",
        max(when(col("d") >= col("at_risk"), 1).otherwise(0)).over(kmW))
      .withColumn("km_survival",
        when(col("absorbed") === 1, lit(0.0))
          .otherwise(round(exp(sum("lnterm").over(kmW)), 6)))
      .select(col("week"), col("at_risk"), col("d").as("n_events"),
        // exact-integer HALF_UP 6-dp (the Mix idiom): round() of the
        // raw double quotient is the round-12 cross-engine flip class
        expr("""CAST((2 * d * 1000000 + at_risk)
               |     DIV (2 * at_risk) AS DOUBLE) / 1000000.0""".stripMargin)
          .as("hazard"),
        col("km_survival"))
  }

  /** Cohort repeat rate: per first-order month, the share of the
    * cohort that placed a SECOND order within 90 days — the single
    *-number acquisition-quality readout product teams track per
    * cohort (the KM curve above is its full-resolution counterpart).
    * Same first/second-order derivation; counts are exact integers,
    * the rate one exact HALF_UP division; output bounded by the
    * calendar-month frame. */
  def qRepeatRate(spark: SparkSession, dir: String): DataFrame =
    repeatRateOf(t(spark, dir, "orders")
      .select("o_custkey", "o_orderdate", "o_orderkey"))

  /** [[qRepeatRate]] over any (o_custkey, o_orderdate, o_orderkey). */
  private[relational] def repeatRateOf(orders: DataFrame): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    orders
      .withColumn("rn", row_number().over(byCust))
      .filter(col("rn") <= 2)
      .groupBy("o_custkey")
      .agg(min(when(col("rn") === 1, col("o_orderdate"))).as("fd"),
        min(when(col("rn") === 2, col("o_orderdate"))).as("sd"))
      .withColumn("cohort", date_format(col("fd"), "yyyy-MM"))
      .withColumn("repeated",
        expr("CASE WHEN sd IS NOT NULL AND datediff(sd, fd) <= 90 THEN 1 ELSE 0 END"))
      .groupBy("cohort")
      .agg(count(lit(1)).as("n_customers"),
        sum("repeated").cast("long").as("n_repeaters"))
      .withColumn("repeat_rate", expr(
        """CAST((2 * n_repeaters * 1000000 + n_customers)
          |     DIV (2 * n_customers) AS DOUBLE) / 1000000.0""".stripMargin))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_churn_km" -> (qChurnKm _),
    "orders_repeat_rate" -> (qRepeatRate _))

  val oracleSql: Map[String, String] = Map(
    "orders_churn_km" ->
      s"""WITH ranked AS (
         |  SELECT o_custkey, o_orderdate,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
         |  FROM orders),
         |ft AS (
         |  SELECT o_custkey,
         |    min(CASE WHEN rn = 1 THEN o_orderdate END) AS fd,
         |    min(CASE WHEN rn = 2 THEN o_orderdate END) AS sd
         |  FROM ranked WHERE rn <= 2 GROUP BY 1),
         |spans AS (
         |  SELECT o_custkey,
         |    date_diff('day', fd, sd) // 7 + 1 AS event_week,
         |    date_diff('day', fd, TIMESTAMP '$HORIZON 00:00:00') // 7 + 1
         |      AS censor_week
         |  FROM ft),
         |marked AS (
         |  SELECT o_custkey,
         |    least(coalesce(event_week, ${W + 1}), censor_week, $W) AS obs_week,
         |    (event_week IS NOT NULL
         |      AND event_week <= least(censor_week, $W)) AS is_event
         |  FROM spans),
         |n AS (SELECT count(*) AS n_total FROM marked),
         |endings AS (SELECT obs_week AS week, count(*) AS ending
         |  FROM marked GROUP BY 1),
         |ev AS (SELECT obs_week AS week, count(*) AS d
         |  FROM marked WHERE is_event GROUP BY 1),
         |weeks AS (SELECT CAST(range AS BIGINT) AS week FROM range(1, ${W + 1})),
         |joined AS (
         |  SELECT w.week, coalesce(e.ending, 0) AS ending, coalesce(v.d, 0) AS d
         |  FROM weeks w
         |  LEFT JOIN endings e ON e.week = w.week
         |  LEFT JOIN ev v ON v.week = w.week),
         |risk AS (
         |  SELECT week, d,
         |    n_total - coalesce(sum(ending) OVER (ORDER BY week
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
         |  FROM joined CROSS JOIN n),
         |km AS (
         |  SELECT week, at_risk, d,
         |    exp(sum(CASE WHEN d < at_risk
         |              THEN ln(1.0 - CAST(d AS DOUBLE) / at_risk)
         |              ELSE 0.0 END) OVER (
         |      ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |      AS kmv,
         |    max(CASE WHEN d >= at_risk THEN 1 ELSE 0 END) OVER (
         |      ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS absorbed
         |  FROM risk WHERE at_risk > 0)
         |SELECT week, CAST(at_risk AS BIGINT) AS at_risk,
         |  CAST(d AS BIGINT) AS n_events,
         |  CAST((2 * d * 1000000 + at_risk)
         |       // (2 * at_risk) AS DOUBLE) / 1000000.0 AS hazard,
         |  CASE WHEN absorbed = 1 THEN 0.0 ELSE round(kmv, 6) END AS km_survival
         |FROM km""".stripMargin,
    "orders_repeat_rate" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        |  FROM orders),
        |ft AS (
        |  SELECT o_custkey,
        |    min(CASE WHEN rn = 1 THEN o_orderdate END) AS fd,
        |    min(CASE WHEN rn = 2 THEN o_orderdate END) AS sd
        |  FROM ranked WHERE rn <= 2 GROUP BY 1),
        |c AS (
        |  SELECT strftime(fd, '%Y-%m') AS cohort,
        |    count(*) AS n_customers,
        |    sum(CASE WHEN sd IS NOT NULL AND date_diff('day', fd, sd) <= 90
        |        THEN 1 ELSE 0 END) AS n_repeaters
        |  FROM ft GROUP BY 1)
        |SELECT cohort, CAST(n_customers AS BIGINT) AS n_customers,
        |  CAST(n_repeaters AS BIGINT) AS n_repeaters,
        |  CAST((2 * n_repeaters * 1000000 + n_customers)
        |       // (2 * n_customers) AS DOUBLE) / 1000000.0 AS repeat_rate
        |FROM c""".stripMargin)
}
