package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Funnel A/B significance — the step-level experiment readout: for
  * each ORDERED funnel transition (view -> click, click -> purchase),
  * the per-cohort conversion among users who entered the funnel, and
  * the two-proportion z against the other cohort. Composes the
  * standing ordered-funnel derivation (`Relational.funnel`) with the
  * `events_ab_test` z conventions — where the plain A/B row tests one
  * terminal metric, this localizes WHICH step an experiment moved.
  *
  * Determinism: reach counts exact; rates round-6 IEEE divisions of
  * exact integers; z the identical nullif-guarded pooled expression
  * both engines (the qAbTest formula).
  *
  * Scale shape: the funnel derivation's per-step min-aggregates (no
  * windows, co-partitioned joins on user), then a (steps x 2)-bounded
  * reduce. */
object FunnelAb extends graft.Registry {

  def qFunnelAb(spark: SparkSession, dir: String): DataFrame =
    funnelAbOf(t(spark, dir, "events"))

  /** [[qFunnelAb]] over any events-shaped frame. */
  private[relational] def funnelAbOf(ev: DataFrame): DataFrame = {
    val f = Relational.funnel(ev, "view", "click", "purchase")
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
    val arms = f.groupBy("variant")
      .agg(count(lit(1)).as("n1"),
        sum(when(col("depth") >= 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("depth") >= 3, 1L).otherwise(0L)).as("n3"))
    val wide = arms.agg(
      max(when(col("variant") === 0, col("n1"))).as("e_a"),
      max(when(col("variant") === 1, col("n1"))).as("e_b"),
      max(when(col("variant") === 0, col("n2"))).as("k2_a"),
      max(when(col("variant") === 1, col("n2"))).as("k2_b"),
      max(when(col("variant") === 0, col("n3"))).as("k3_a"),
      max(when(col("variant") === 1, col("n3"))).as("k3_b"))
    val steps = wide.select(
      explode(expr(
        """array(named_struct('step', 2, 'k_a', k2_a, 'k_b', k2_b,
          |                   'n_a', e_a, 'n_b', e_b),
          |      named_struct('step', 3, 'k_a', k3_a, 'k_b', k3_b,
          |                   'n_a', k2_a, 'n_b', k2_b))""".stripMargin)).as("s"))
      .select(col("s.step").as("step"), col("s.n_a").as("n_a"),
        col("s.k_a").as("k_a"), col("s.n_b").as("n_b"), col("s.k_b").as("k_b"))
    // every denominator nullif-guarded: an empty funnel step is a
    // NULL rate/z (identically both engines), not an ANSI error
    def nz(c: org.apache.spark.sql.Column) = nullif(c.cast("double"), lit(0.0))
    steps.select(col("step"), col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      expr("CASE WHEN n_a IS NULL OR n_a = 0 THEN CAST(NULL AS DOUBLE) ELSE " +
        graft.functions.Exact.rate6("k_a", "n_a") + " END").as("rate_a"),
      expr("CASE WHEN n_b IS NULL OR n_b = 0 THEN CAST(NULL AS DOUBLE) ELSE " +
        graft.functions.Exact.rate6("k_b", "n_b") + " END").as("rate_b"),
      round(
        (col("k_b").cast("double") / nz(col("n_b")) - col("k_a").cast("double") / nz(col("n_a"))) /
          nullif(sqrt(((col("k_a") + col("k_b")).cast("double") / nz(col("n_a") + col("n_b"))) *
            (lit(1.0) - (col("k_a") + col("k_b")).cast("double") / nz(col("n_a") + col("n_b"))) *
            (lit(1.0) / nz(col("n_a")) + lit(1.0) / nz(col("n_b")))), lit(0.0)), 6).as("z"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_funnel_ab" -> (qFunnelAb _))

  val oracleSql: Map[String, String] = Map(
    "events_funnel_ab" ->
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
        |f AS (SELECT s1.user_id,
        |    1 + CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END
        |      + CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END AS depth,
        |    CAST(s1.user_id % 2 AS INT) AS variant
        |  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |  LEFT JOIN s3 ON s1.user_id = s3.user_id),
        |arms AS (SELECT variant, count(*) AS n1,
        |    sum(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS n2,
        |    sum(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS n3
        |  FROM f GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN variant = 0 THEN n1 END) AS e_a,
        |    max(CASE WHEN variant = 1 THEN n1 END) AS e_b,
        |    max(CASE WHEN variant = 0 THEN n2 END) AS k2_a,
        |    max(CASE WHEN variant = 1 THEN n2 END) AS k2_b,
        |    max(CASE WHEN variant = 0 THEN n3 END) AS k3_a,
        |    max(CASE WHEN variant = 1 THEN n3 END) AS k3_b
        |  FROM arms),
        |st AS (
        |  SELECT 2 AS step, e_a AS n_a, k2_a AS k_a, e_b AS n_b, k2_b AS k_b FROM w
        |  UNION ALL
        |  SELECT 3 AS step, k2_a AS n_a, k3_a AS k_a, k2_b AS n_b, k3_b AS k_b FROM w)
        |SELECT step, CAST(n_a AS BIGINT) AS n_a, CAST(k_a AS BIGINT) AS k_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(k_b AS BIGINT) AS k_b,
        |  CASE WHEN n_a IS NULL OR n_a = 0 THEN CAST(NULL AS DOUBLE)
        |    ELSE ${graft.functions.Exact.duck6("k_a", "n_a")} END AS rate_a,
        |  CASE WHEN n_b IS NULL OR n_b = 0 THEN CAST(NULL AS DOUBLE)
        |    ELSE ${graft.functions.Exact.duck6("k_b", "n_b")} END AS rate_b,
        |  round((CAST(k_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0)
        |      - CAST(k_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0)) /
        |    nullif(sqrt((CAST(k_a + k_b AS DOUBLE) / nullif(CAST(n_a + n_b AS DOUBLE), 0.0)) *
        |      (1.0 - CAST(k_a + k_b AS DOUBLE) / nullif(CAST(n_a + n_b AS DOUBLE), 0.0)) *
        |      (1.0 / nullif(CAST(n_a AS DOUBLE), 0.0)
        |       + 1.0 / nullif(CAST(n_b AS DOUBLE), 0.0))), 0.0), 6) AS z
        |FROM st""".stripMargin)
}
