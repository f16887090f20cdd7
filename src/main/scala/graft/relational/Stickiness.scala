package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Exact

/** DAU/WAU stickiness — the product-engagement ratio every growth
  * report leads with: per calendar day, the day's distinct actives
  * (DAU), the trailing-7-day distinct actives (WAU), and their ratio
  * (DAU/WAU ∈ [1/7, 1]: how much of the weekly audience shows up on a
  * given day). Composes the engine's two distinct-user idioms — the
  * `events_rolling_wau` static replication and the
  * `events_sliding_uniques` dedup-then-window shape — into the paired
  * readout neither reports alone.
  *
  * Determinism: distinct counts are exact; the ratio is one exact
  * HALF_UP division.
  *
  * Scale shape: the only corpus-sized shuffle is the first distinct
  * (user, day) reduction; each pair then STATICALLY REPLICATES to the
  * ≤ 7 serving days (`explode(sequence(day, day+6))` — a projection,
  * no range join), semi-joins the observed-day frame (broadcast hash,
  * calendar-bounded), and one count-distinct aggregate produces DAU
  * (day == serving day) and WAU together. */
object Stickiness extends graft.Registry {

  private val TRAIL = 7 // trailing window, days

  def qStickiness(spark: SparkSession, dir: String): DataFrame =
    stickinessOf(t(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")))

  /** [[qStickiness]] over any (user_id, day: DATE) frame. */
  private[relational] def stickinessOf(events: DataFrame): DataFrame = {
    val pairs = events.distinct()
    val days = pairs.select(col("day").as("d")).distinct()
    val fanned = pairs
      .select(col("user_id"), col("day"), explode(expr(
        s"sequence(day, date_add(day, ${TRAIL - 1}))")).as("d"))
      .join(broadcast(days), Seq("d"), "left_semi")
    fanned.groupBy("d")
      .agg(countDistinct(when(col("day") === col("d"), col("user_id")))
        .as("dau"),
        countDistinct("user_id").as("wau"))
      .select(col("d").as("day"), col("dau"), col("wau"),
        expr(Exact.rate6("dau", "wau")).as("stickiness"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_stickiness" -> (qStickiness _))

  val oracleSql: Map[String, String] = Map(
    "events_stickiness" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         |days AS (SELECT DISTINCT day AS d FROM pairs),
         |f AS (
         |  SELECT d, day, user_id FROM pairs JOIN days
         |    ON day <= d AND day >= d - ${TRAIL - 1}),
         |g AS (
         |  SELECT d AS day,
         |    count(DISTINCT CASE WHEN f.day = f.d THEN user_id END) AS dau,
         |    count(DISTINCT user_id) AS wau
         |  FROM f GROUP BY d)
         |SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
         |  ${Exact.duck6("dau", "wau")} AS stickiness
         |FROM g""".stripMargin)
}
