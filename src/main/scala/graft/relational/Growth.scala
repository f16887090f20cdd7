package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Month-over-month revenue growth: the period-over-period report
  * every revenue dashboard leads with — monthly revenue, the previous
  * month, percent growth, and the trailing 3-month total (the smoothed
  * companion the MoM noise is read against). Complements the existing
  * time-series family (daily cumulative, 30-day rolling, weekday
  * index, Holt forecast) at the calendar-month grain none of them
  * reports.
  *
  * Determinism: revenue quantizes to cents at read and sums in
  * BIGINT; growth_pct is the EXACT-integer HALF_UP 6-dp division of
  * (rev - prev) * 100 by prev — the signed variant of the Mix
  * length-buckets idiom (round 12 proved round() of a raw double
  * quotient can flip between Spark's BigDecimal and DuckDB's fp
  * rounding near a 1e-6 midpoint; this formula has no floating step
  * at all). Mirrored on sign since rev - prev can be negative: ties
  * round away from zero, exactly BigDecimal HALF_UP. Widened to
  * DECIMAL(38,0) so the *1e8 numerator never leaves exact range at
  * 100 TB revenue; the lag/rolling windows run over the
  * calendar-month frame (~80 rows, bounded by the date span, not the
  * corpus).
  *
  * Scale shape: one scan into a month-bounded aggregate; windows only
  * over the bounded month frame. */
object Growth extends graft.Registry {

  def qMomGrowth(spark: SparkSession, dir: String): DataFrame =
    momGrowthOf(monthlyCents(spark, dir))

  private def monthlyCents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("cents"))

  /** [[qMomGrowth]] over any (month: 'yyyy-MM', cents) frame.
    * `growth_pct` negates OUTSIDE the division, so a sub-1e-6 decline
    * yields -0.0 exactly as the oracle does. */
  private[relational] def momGrowthOf(rows: DataFrame): DataFrame = {
    val monthly = rows.groupBy("month").agg(sum("cents").as("rev_cents"))
    val byMonth = Window.orderBy("month")
    val rolling = Window.orderBy("month").rowsBetween(-2, 0)
    monthly
      .withColumn("prev_rev_cents", lag("rev_cents", 1).over(byMonth))
      .withColumn("rev_3m_cents", sum("rev_cents").over(rolling))
      .withColumn("growth_pct", expr(
        """CASE WHEN prev_rev_cents IS NULL THEN CAST(NULL AS DOUBLE)
          |WHEN rev_cents >= prev_rev_cents THEN
          |  CAST((2 * (CAST(rev_cents AS DECIMAL(38,0)) - prev_rev_cents)
          |          * 100000000 + prev_rev_cents)
          |       DIV (2 * CAST(prev_rev_cents AS DECIMAL(38,0))) AS DOUBLE)
          |    / 1000000.0
          |ELSE
          |  -(CAST((2 * (CAST(prev_rev_cents AS DECIMAL(38,0)) - rev_cents)
          |            * 100000000 + prev_rev_cents)
          |         DIV (2 * CAST(prev_rev_cents AS DECIMAL(38,0))) AS DOUBLE)
          |      / 1000000.0)
          |END""".stripMargin))
      .select("month", "rev_cents", "prev_rev_cents", "growth_pct", "rev_3m_cents")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_mom_growth" -> (qMomGrowth _))

  val oracleSql: Map[String, String] = Map(
    "orders_mom_growth" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders GROUP BY 1),
        |g AS (
        |  SELECT month, rev_cents,
        |    lag(rev_cents, 1) OVER (ORDER BY month) AS prev_rev_cents,
        |    CAST(sum(rev_cents) OVER (ORDER BY month
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS rev_3m_cents
        |  FROM m)
        |SELECT month, rev_cents, prev_rev_cents,
        |  CASE WHEN prev_rev_cents IS NULL THEN CAST(NULL AS DOUBLE)
        |  WHEN rev_cents >= prev_rev_cents THEN
        |    CAST((2 * CAST(rev_cents - prev_rev_cents AS HUGEINT)
        |            * 100000000 + prev_rev_cents)
        |         // (2 * CAST(prev_rev_cents AS HUGEINT)) AS DOUBLE)
        |      / 1000000.0
        |  ELSE
        |    -(CAST((2 * CAST(prev_rev_cents - rev_cents AS HUGEINT)
        |              * 100000000 + prev_rev_cents)
        |           // (2 * CAST(prev_rev_cents AS HUGEINT)) AS DOUBLE)
        |        / 1000000.0)
        |  END AS growth_pct,
        |  rev_3m_cents
        |FROM g""".stripMargin)
}
