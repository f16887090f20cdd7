package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Exact

/** Per-user behavioral concentration (Herfindahl-Hirschman index over
  * the user's event-type distribution): HHI = Σ_i n_i² / N² — 1/HHI is
  * the "effective number of behaviors", the EXACT-rational companion
  * to `events_user_entropy` (whose Shannon form needs log2): a user
  * with hhi ≈ 1 does one thing (bot-like single-action cadence), a
  * uniform user over k types sits at 1/k. The supplier-concentration
  * sibling `supplier_hhi` reports the same index over revenue shares;
  * this is the behavioral, per-user grain.
  *
  * Determinism: counts are exact integers; HHI is one exact HALF_UP
  * 6-dp quotient (Σn_i² over N²) via [[graft.functions.Exact]] —
  * DECIMAL(38,0)-widened, no floating step at all (the entropy twin
  * cannot do this; this one can, so it must).
  *
  * Scale shape: one partial-aggregated shuffle on (user, type), then a
  * per-user rollup riding the same user hash — the `events_sessionize`
  * cost class. Output is per-user, linear like every per-user feature
  * frame. */
object UserHhi extends graft.Registry {

  def qUserHhi(spark: SparkSession, dir: String): DataFrame =
    hhiOf(t(spark, dir, "events"))

  /** [[qUserHhi]] over any (user_id, event_type) frame. */
  private[relational] def hhiOf(events: DataFrame): DataFrame =
    events
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(sum("n").as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("n") * col("n")).as("s2"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        expr(Exact.rate6("s2", "CAST(n_events AS DECIMAL(38,0)) * n_events"))
          .as("hhi"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_user_hhi" -> (qUserHhi _))

  val oracleSql: Map[String, String] = Map(
    "events_user_hhi" ->
      s"""WITH per AS (
         |  SELECT user_id, event_type, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |u AS (
         |  SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
         |    count(*) AS n_types,
         |    CAST(sum(n * n) AS BIGINT) AS s2
         |  FROM per GROUP BY 1)
         |SELECT user_id, n_events, n_types,
         |  ${Exact.duck6("s2", "CAST(n_events AS HUGEINT) * n_events")} AS hhi
         |FROM u""".stripMargin)
}
