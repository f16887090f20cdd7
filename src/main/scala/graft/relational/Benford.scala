package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Benford's-law first-digit audit over order totals — the classic
  * data-quality / fabrication screen an audit pipeline runs on any
  * money column: naturally-generated multiplicative amounts follow
  * P(d) = log10(1 + 1/d), and a synthetic or truncated column shows
  * up as per-digit deviation. Reports per leading digit the observed
  * count, observed share, the Benford expectation, and the signed
  * deviation, plus the chi-square contribution.
  *
  * Determinism: digit extraction is string surgery on floor() of the
  * money value — the floor is EXPLICIT on both sides because DuckDB's
  * CAST-to-BIGINT rounds where Spark's truncates (o_totalprice > 1 in
  * this data); counts are exact integers; expected probabilities are
  * log10 on small integer ratios (libm-correct doubles, identical both
  * engines); every reported double is computed from those plus exact
  * counts, rounded 6 on both sides.
  *
  * Scale shape: one scan into a 9-row aggregate; the total is carried
  * by a window-free cross join of the 1-row census. */
object Benford extends graft.Registry {

  def qBenford(spark: SparkSession, dir: String): DataFrame = {
    val digits = t(spark, dir, "orders")
      .select(expr(
        "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum("n").as("n_total"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        expr(graft.functions.Exact.rate6("n", "n_total")).as("observed"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("expected"),
        round(col("n").cast("double") / col("n_total") -
          log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("deviation"),
        round(
          pow(col("n").cast("double") -
            log10(lit(1.0) + lit(1.0) / col("digit")) * col("n_total"), 2) /
            (log10(lit(1.0) + lit(1.0) / col("digit")) * col("n_total")), 6)
          .as("chi2_term"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_benford" -> (qBenford _))

  val oracleSql: Map[String, String] = Map(
    "orders_benford" ->
      s"""WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
        |    AS digit, count(*) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(n) AS n_total FROM d)
        |SELECT digit, CAST(n AS BIGINT) AS n,
        |  ${graft.functions.Exact.duck6("n", "n_total")} AS observed,
        |  round(log10(1.0 + 1.0 / digit), 6) AS expected,
        |  round(CAST(n AS DOUBLE) / n_total - log10(1.0 + 1.0 / digit), 6)
        |    AS deviation,
        |  round(pow(CAST(n AS DOUBLE) - log10(1.0 + 1.0 / digit) * n_total, 2)
        |        / (log10(1.0 + 1.0 / digit) * n_total), 6) AS chi2_term
        |FROM d CROSS JOIN t""".stripMargin)
}
