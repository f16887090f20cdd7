package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Sliding-window DISTINCT users per hour — trailing-6h uniques beside
  * each hour's own uniques. The hard version of the sliding SUM the
  * engine already has (`events_sliding`): distinct counts don't
  * decompose over window panes, so the exact answer needs the
  * dedup-then-window shape — reduce the corpus to distinct
  * (user, hour) pairs FIRST (one hash shuffle, corpus-linear), then
  * STATICALLY REPLICATE each pair to the <= 6 target hours it can
  * serve (`explode(sequence(hr, hr+5h))` — the `events_rolling_wau`
  * idiom: a pure projection, no join predicate at all), semi-join the
  * replicas to the observed-hour frame (broadcast HASH equi-join, ~720
  * rows), and count distinct users per target hour over that bounded
  * expansion. A range join against the hour frame would plan as a
  * BroadcastNestedLoopJoin evaluating |pairs| x |hours| predicates —
  * linear in BOTH corpus and calendar span; the replication is 6x the
  * pair set regardless of how long the calendar grows.
  *
  * Determinism: pure integer/timestamp set arithmetic — counts exact.
  *
  * Scale shape: the only corpus-sized shuffles are the first distinct
  * and the 6x-replicated count-distinct aggregate; the hour frame
  * rides along as a broadcast hash semi join. */
object SlidingUniques extends graft.Registry {

  private val TRAIL = 6 // trailing window, hours

  def qSlidingUniques(spark: SparkSession, dir: String): DataFrame =
    slidingUniquesOf(t(spark, dir, "events")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hr")))

  /** [[qSlidingUniques]] over any (user_id, hr: TIMESTAMP) frame. */
  private[relational] def slidingUniquesOf(events: DataFrame): DataFrame = {
    val pairs = events.distinct()
    val hours = pairs.select(col("hr").as("h")).distinct()
    val fanned = pairs
      .select(col("user_id"), col("hr"), explode(expr(
        s"sequence(hr, hr + INTERVAL ${TRAIL - 1} HOURS, INTERVAL 1 HOUR)"))
        .as("h"))
      .join(broadcast(hours), Seq("h"), "left_semi")
    fanned.groupBy("h")
      .agg(countDistinct(when(col("hr") === col("h"), col("user_id")))
        .as("uniques_1h"),
        countDistinct("user_id").as("uniques_6h"))
      .select(col("h").as("hour"), col("uniques_1h"), col("uniques_6h"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_sliding_uniques" -> (qSlidingUniques _))

  val oracleSql: Map[String, String] = Map(
    "events_sliding_uniques" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr FROM events),
         |hours AS (SELECT DISTINCT hr AS h FROM pairs),
         |f AS (
         |  SELECT h, hr, user_id FROM pairs JOIN hours
         |    ON hr <= h AND hr >= h - INTERVAL ${TRAIL - 1} HOUR)
         |SELECT h AS hour,
         |  count(DISTINCT CASE WHEN hr = h THEN user_id END) AS uniques_1h,
         |  count(DISTINCT user_id) AS uniques_6h
         |FROM f GROUP BY h""".stripMargin)
}
