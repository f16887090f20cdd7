package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Exact

/** Chapman-Kolmogorov order-1 diagnostic: is the event stream actually
  * Markov? If it is, the empirical TWO-step transition matrix must
  * equal the square of the one-step matrix (P² = P·P — the
  * Chapman-Kolmogorov equation, textbook stochastic processes). The
  * report puts, per (from, to) state pair, the model's two-step
  * probability Σ_k p(from,k)·p(k,to) beside the measured two-step
  * probability and their signed gap — large gaps mean history beyond
  * one step matters and the whole transition family
  * (`events_transitions`, `events_markov_stationary`,
  * `events_markov_backtest`) is underfitting.
  *
  * Determinism: one-step probabilities are held as EXACT micro-unit
  * integers k_ij = HALF_UP(n_ij/n_i · 1e6); the model entry is the
  * exact integer Σ_k k_ik·k_kj over the bounded state set divided
  * once by 1e12 (a product of two 6-dp grid values lands ON the
  * 1e-12 grid, which contains rounding midpoints — §4's "never round
  * a grid product" rule — so the division is the exact HALF_UP
  * idiom, never a floating round); the empirical entry and the gap
  * are the same integer arithmetic.
  *
  * Scale shape: two user-partitioned lead windows (the sessionize
  * cost class), two bounded |states|² aggregates, and a |states|³
  * join — states are a configuration-bounded vocabulary (single
  * digits here), never data-sized. */
object ChapmanKolmogorov extends graft.Registry {

  def qCkTest(spark: SparkSession, dir: String): DataFrame =
    ckOf(t(spark, dir, "events")
      .select("user_id", "ts", "event_id", "event_type"))

  /** [[qCkTest]] over any (user_id, ts, event_id, event_type) frame. */
  private[relational] def ckOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // BOTH leads in one window projection: the two census branches
    // below then share an identical scan+shuffle+sort subtree, which
    // ReuseExchange collapses to a single user-partitioned pass
    val led = events
      .withColumn("to1", lead("event_type", 1).over(w))
      .withColumn("to2", lead("event_type", 2).over(w))
    // one-step micro-probabilities k_ij (exact integers)
    val p1 = led
      .filter(col("to1").isNotNull)
      .groupBy(col("event_type").as("i"), col("to1").as("j"))
      .agg(count(lit(1)).as("n"))
    val t1 = p1.groupBy("i").agg(sum("n").as("ni"))
    val k1 = p1.join(t1, "i")
      .select(col("i"), col("j"),
        expr("(2 * n * 1000000 + ni) DIV (2 * ni)").as("k"))
    // model two-step: sum over the middle state, exact integers
    val model = k1.select(col("i"), col("j").as("m"), col("k").as("ka"))
      .join(k1.select(col("i").as("m"), col("j"), col("k").as("kb")), "m")
      .groupBy("i", "j")
      .agg(sum(expr("ka * kb")).as("s12"))
    // empirical two-step micro-probabilities (same shared window pass)
    val p2 = led
      .filter(col("to2").isNotNull)
      .groupBy(col("event_type").as("i"), col("to2").as("j"))
      .agg(count(lit(1)).as("m2"))
    val t2 = p2.groupBy("i").agg(sum("m2").as("mi"))
    val k2 = p2.join(t2, "i")
      .select(col("i"), col("j"),
        expr("(2 * m2 * 1000000 + mi) DIV (2 * mi)").as("k2"))
    model.join(k2, Seq("i", "j"), "full_outer")
      .select(col("i").as("from_state"), col("j").as("to_state"),
        expr("CAST(coalesce(s12, CAST(0 AS BIGINT)) AS DOUBLE) / 1000000000000.0")
          .as("p2_model"),
        expr("CAST(coalesce(k2, CAST(0 AS BIGINT)) AS DOUBLE) / 1000000.0")
          .as("p2_empirical"),
        expr("""CAST(coalesce(k2, CAST(0 AS BIGINT)) * 1000000
               |   - coalesce(s12, CAST(0 AS BIGINT)) AS DOUBLE)
               |  / 1000000000000.0""".stripMargin).as("gap"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_markov_ck" -> (qCkTest _))

  val oracleSql: Map[String, String] = Map(
    "events_markov_ck" ->
      s"""WITH s1 AS (
         |  SELECT event_type AS i, to1 AS j, count(*) AS n FROM (
         |    SELECT event_type, lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS to1 FROM events)
         |  WHERE to1 IS NOT NULL GROUP BY 1, 2),
         |t1 AS (SELECT i, sum(n) AS ni FROM s1 GROUP BY i),
         |k1 AS (SELECT s1.i, s1.j,
         |    (2 * n * 1000000 + ni) // (2 * ni) AS k
         |  FROM s1 JOIN t1 ON t1.i = s1.i),
         |model AS (
         |  SELECT a.i, b.j, sum(a.k * b.k) AS s12
         |  FROM k1 a JOIN k1 b ON a.j = b.i GROUP BY 1, 2),
         |s2 AS (
         |  SELECT event_type AS i, to2 AS j, count(*) AS m2 FROM (
         |    SELECT event_type, lead(event_type, 2) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS to2 FROM events)
         |  WHERE to2 IS NOT NULL GROUP BY 1, 2),
         |t2 AS (SELECT i, sum(m2) AS mi FROM s2 GROUP BY i),
         |k2 AS (SELECT s2.i, s2.j,
         |    (2 * m2 * 1000000 + mi) // (2 * mi) AS k2
         |  FROM s2 JOIN t2 ON t2.i = s2.i)
         |SELECT coalesce(model.i, k2.i) AS from_state,
         |  coalesce(model.j, k2.j) AS to_state,
         |  CAST(coalesce(s12, 0) AS DOUBLE) / 1000000000000.0 AS p2_model,
         |  CAST(coalesce(k2.k2, 0) AS DOUBLE) / 1000000.0 AS p2_empirical,
         |  CAST(coalesce(k2.k2, 0) * 1000000 - coalesce(s12, 0) AS DOUBLE)
         |    / 1000000000000.0 AS gap
         |FROM model FULL OUTER JOIN k2 ON model.i = k2.i AND model.j = k2.j"""
        .stripMargin)
}
