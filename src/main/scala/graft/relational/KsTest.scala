package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Exact two-sample Kolmogorov-Smirnov test — the distribution-drift
  * check that needs NO binning choice (the PSI/chi-square rows bin;
  * KS takes the supremum over every observed value):
  *
  *   D = max_v |F_A(v) - F_B(v)|,  reject if D > c(a) sqrt((nA+nB)/(nA nB))
  *
  * Samples = the deterministic order-key parity halves of the order
  * totals (the standing two-snapshot convention).
  *
  * Scale design: the empirical CDFs need GLOBAL cumulative counts,
  * but a single unpartitioned window would serialize the corpus —
  * the cumulative composes two-level exactly like the Gini rank:
  * within a fixed $100k value stripe (window PARTITIONED by stripe)
  * plus the census offset of all lower stripes (value-bounded frame).
  *
  * Determinism: counts exact; the deviation is the exact integer
  * cross-multiplication |cumA*nB - cumB*nA| widened to DECIMAL(38,0)
  * (1e9-row samples pass 2^63), its max order-free; D and the
  * critical value are identical IEEE expressions rounded 6, and the
  * reject flag compares the same unrounded doubles in both engines. */
object KsTest extends graft.Registry {

  private val STRIPE = 10000000L // $100k in cents
  /** Smirnov c(0.05) = sqrt(-ln(0.025)/2). */
  private val C05: Double = math.sqrt(-math.log(0.025) / 2.0)

  def qKsTest(spark: SparkSession, dir: String): DataFrame =
    ksTestOf(t(spark, dir, "orders")
      .select(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("cents"),
        expr("CAST(o_orderkey % 2 AS INT)").as("side")))

  /** [[qKsTest]] over any (cents, side in {0,1}) frame. */
  private[relational] def ksTestOf(rows: DataFrame): DataFrame = {
    val census = rows.groupBy("cents")
      .agg(sum(when(col("side") === 1, 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("cb"))
      .withColumn("stripe", expr(s"cents DIV $STRIPE"))
    val withinW = Window.partitionBy("stripe").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, 0)
    val within = census
      .withColumn("wa", sum("ca").over(withinW))
      .withColumn("wb", sum("cb").over(withinW))
    val stripeTotals = census.groupBy("stripe")
      .agg(sum("ca").as("sa"), sum("cb").as("sb"))
    val lowerW = Window.orderBy("stripe")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = stripeTotals
      .withColumn("oa", coalesce(sum("sa").over(lowerW), lit(0L)))
      .withColumn("ob", coalesce(sum("sb").over(lowerW), lit(0L)))
      .select("stripe", "oa", "ob")
    val totals = census.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    val dmax = within.join(broadcast(offsets), "stripe")
      .crossJoin(broadcast(totals))
      .select(expr(
        """abs(CAST(oa + wa AS DECIMAL(38,0)) * n_b
          |    - CAST(ob + wb AS DECIMAL(38,0)) * n_a)""".stripMargin).as("d"))
      .agg(max("d").as("d_max"))
    dmax.crossJoin(broadcast(totals))
      .withColumn("ks", expr(
        """CAST((2 * d_max * 1000000 + CAST(n_a AS DECIMAL(38,0)) * n_b)
          |     div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b) AS DOUBLE)
          |/ 1000000.0""".stripMargin))
      .withColumn("ks_raw", expr(
        "CAST(d_max AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)"))
      .withColumn("ks_crit", expr(
        s"$C05 * sqrt(CAST(n_a + n_b AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b))"))
      .select(col("n_a"), col("n_b"),
        col("d_max").cast("double").as("d_max"),
        col("ks"), round(col("ks_crit"), 6).as("ks_crit"),
        expr("CAST(CASE WHEN ks_raw > ks_crit THEN 1 ELSE 0 END AS BIGINT)")
          .as("reject_flag"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_ks_test" -> (qKsTest _))

  val oracleSql: Map[String, String] = Map(
    // the oracle takes the PLAIN single-window road (DuckDB is
    // single-node); the stripe-composed cumulative must agree
    "orders_ks_test" ->
      s"""WITH rows_ AS (
         |  SELECT CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
         |    CAST(o_orderkey % 2 AS INT) AS side
         |  FROM orders),
         |census AS (
         |  SELECT cents,
         |    sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS ca,
         |    sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cb
         |  FROM rows_ GROUP BY 1),
         |cum AS (
         |  SELECT cents,
         |    sum(ca) OVER (ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
         |    sum(cb) OVER (ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
         |  FROM census),
         |tot AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b FROM census),
         |dm AS (SELECT max(abs(CAST(cuma AS HUGEINT) * n_b
         |                    - CAST(cumb AS HUGEINT) * n_a)) AS d_max
         |  FROM cum CROSS JOIN tot)
         |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |  CAST(d_max AS DOUBLE) AS d_max,
         |  CAST((2 * d_max * 1000000 + CAST(n_a AS HUGEINT) * n_b)
         |       // (2 * CAST(n_a AS HUGEINT) * n_b) AS DOUBLE) / 1000000.0 AS ks,
         |  round($C05 * sqrt(CAST(n_a + n_b AS DOUBLE)
         |    / (CAST(n_a AS DOUBLE) * n_b)), 6) AS ks_crit,
         |  CAST(CASE WHEN CAST(d_max AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
         |         > $C05 * sqrt(CAST(n_a + n_b AS DOUBLE)
         |             / (CAST(n_a AS DOUBLE) * n_b))
         |       THEN 1 ELSE 0 END AS BIGINT) AS reject_flag
         |FROM dm CROSS JOIN tot""".stripMargin)
}
