package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Attribution model comparison — last-touch vs Markov removal-effect
  * credit side by side, per channel: the table a marketing-science
  * review reads before switching models (which channels gain, which
  * lose, do the RANKINGS flip). Composes the two standing attribution
  * operators; both inputs are already oracled exact.
  *
  * Determinism: last-touch shares are HALF_UP divisions of exact
  * counts; Markov shares are the (bitwise cross-engine) absorb-chain
  * outputs; ranks are total orders (share DESC, channel ASC) over the
  * channel-bounded frame.
  *
  * Scale shape: the two upstream reductions (each one corpus pass),
  * then joins/windows over the <=|channels| frame. */
object AttributionCompare extends graft.Registry {

  def qAttributionCompare(spark: SparkSession, dir: String): DataFrame = {
    // the last-touch reduction is one full events window+groupBy pass;
    // referencing it lazily from BOTH the share numerator and the total
    // re-ran that corpus pass twice. The reduction is <=|channels| rows,
    // so collect it ONCE and continue from the literal frame (the lloyd
    // / IvfIncremental.report discipline) — every downstream expression
    // is unchanged, it just reads driver-held rows.
    val ltq = Relational.eventsAttribution(spark, dir)
      .select(col("touch_type").as("channel"), col("n_conversions"))
    val lt = spark.createDataFrame(
      spark.sparkContext.parallelize(ltq.collect().toSeq, 1), ltq.schema)
    val ltTot = lt.agg(sum("n_conversions").as("t"))
    val ltShare = lt.crossJoin(broadcast(ltTot))
      .select(col("channel"), col("n_conversions"),
        expr("""CAST((2 * n_conversions * 1000000 + t)
               |     DIV (2 * t) AS DOUBLE) / 1000000.0""".stripMargin)
          .as("share_last_touch"))
    val mk = Relational.qAttributionMarkov(spark, dir)
      .select(col("channel"), col("attribution_share").as("share_markov"))
    val joined = ltShare.join(mk, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("n_conversions"), lit(0L)).as("n_conversions_lt"),
        coalesce(col("share_last_touch"), lit(0.0)).as("share_last_touch"),
        coalesce(col("share_markov"), lit(0.0)).as("share_markov"))
    val wLt = Window.orderBy(col("share_last_touch").desc, col("channel").asc)
    val wMk = Window.orderBy(col("share_markov").desc, col("channel").asc)
    joined
      .withColumn("rank_last_touch", row_number().over(wLt))
      .withColumn("rank_markov", row_number().over(wMk))
      .withColumn("rank_moved",
        when(col("rank_last_touch") =!= col("rank_markov"), 1L).otherwise(0L))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_attribution_compare" -> (qAttributionCompare _))

  val oracleSql: Map[String, String] = Map(
    "events_attribution_compare" -> {
      val mkSql = Relational.oracleSql("events_attribution_markov")
      val ltSql = Relational.oracleSql("events_attribution")
      s"""WITH mk AS ($mkSql),
         |ltq AS ($ltSql),
         |lt AS (SELECT touch_type AS channel, n_conversions FROM ltq),
         |ltt AS (SELECT sum(n_conversions) AS t FROM lt),
         |lts AS (SELECT channel, n_conversions,
         |    CAST((2 * n_conversions * 1000000 + t)
         |         // (2 * t) AS DOUBLE) / 1000000.0 AS share_last_touch
         |  FROM lt CROSS JOIN ltt),
         |j AS (
         |  SELECT coalesce(lts.channel, mk.channel) AS channel,
         |    coalesce(n_conversions, 0) AS n_conversions_lt,
         |    coalesce(share_last_touch, 0.0) AS share_last_touch,
         |    coalesce(attribution_share, 0.0) AS share_markov
         |  FROM lts FULL OUTER JOIN mk ON lts.channel = mk.channel)
         |SELECT channel, CAST(n_conversions_lt AS BIGINT) AS n_conversions_lt,
         |  share_last_touch, share_markov,
         |  CAST(row_number() OVER (
         |    ORDER BY share_last_touch DESC, channel ASC) AS INT)
         |    AS rank_last_touch,
         |  CAST(row_number() OVER (
         |    ORDER BY share_markov DESC, channel ASC) AS INT) AS rank_markov,
         |  CAST(CASE WHEN row_number() OVER (
         |      ORDER BY share_last_touch DESC, channel ASC)
         |    <> row_number() OVER (ORDER BY share_markov DESC, channel ASC)
         |    THEN 1 ELSE 0 END AS BIGINT) AS rank_moved
         |FROM j""".stripMargin
    })
}
