package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Revenue inequality: exact Gini coefficient + Lorenz-curve deciles
  * of per-customer revenue — the concentration readout beside the
  * existing Pareto (`orders_pareto`), ABC (`orders_abc`) and HHI
  * (`supplier_hhi`) reports, and the one the others can't substitute:
  * Gini integrates the WHOLE Lorenz curve instead of one cut point.
  *
  *   gini = (2 * sum(i * x_i) - (N + 1) * sum(x)) / (N * sum(x)),
  *   x_1 <= ... <= x_N  (ties broken on customer key)
  *
  * Scale design: the rank-weighted sum needs a GLOBAL rank, but a
  * single row_number window over all customers would serialize the
  * corpus through one partition. Instead ranks are composed two-level
  * (the distributed sort-rank idiom): customers bucket by a fixed
  * $100k revenue stripe, rank WITHIN their bucket (window partitioned
  * by bucket — distributed), and add the count of all lower buckets
  * (a bucket-census cumulative over a value-bounded handful of rows).
  * global_rank = lower_count + within_rank reproduces the exact total
  * order because the stripe key is monotone in revenue.
  *
  * Determinism: revenue quantizes to cents at read; every rank is an
  * integer; the rank-weighted sum widens to DECIMAL(38,0) BEFORE the
  * multiply (1B customers x rank*rev ~ 3e17 per term passes 2^63 in
  * the sum); gini and each cumulative Lorenz share are ONE exact
  * cross-multiplied HALF_UP integer division to 1e-6.
  *
  * Output: 10 Lorenz deciles (n, revenue, cumulative share) with the
  * corpus Gini carried on every row. */
object Inequality extends graft.Registry {

  private val STRIPE = 10000000L // $100k in cents

  def qGini(spark: SparkSession, dir: String): DataFrame =
    giniOf(t(spark, dir, "orders")
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("cents")))

  /** [[qGini]] over any (o_custkey, cents) frame. */
  private[relational] def giniOf(rows: DataFrame): DataFrame = {
    val rev = rows.groupBy("o_custkey").agg(sum("cents").as("rev"))
      .withColumn("bkt", expr(s"rev DIV $STRIPE"))
    val withinW = Window.partitionBy("bkt")
      .orderBy(col("rev").asc, col("o_custkey").asc)
    val ranked = rev.withColumn("rk", row_number().over(withinW))
    // bucket census: value-bounded row count (max revenue / stripe),
    // independent of corpus size — the cumulative below is over that
    // bounded frame, not over customers
    val census = rev.groupBy("bkt").agg(count(lit(1)).as("bn"))
    val lowerW = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lower = census.withColumn("lower_cnt",
      coalesce(sum("bn").over(lowerW), lit(0L)))
    val global = ranked.join(broadcast(lower.select("bkt", "lower_cnt")), "bkt")
      .withColumn("grank", col("lower_cnt") + col("rk"))
    val totals = global.agg(
      count(lit(1)).as("n"),
      sum("rev").as("t"),
      sum(expr("CAST(grank AS DECIMAL(38,0)) * rev")).as("si"))
      .withColumn("gini", expr(
        """CAST(((2 * si - (CAST(n AS DECIMAL(38,0)) + 1) * t) * 2000000
          |       + CAST(n AS DECIMAL(38,0)) * t)
          |     div (2 * CAST(n AS DECIMAL(38,0)) * t) AS DOUBLE)
          |/ 1000000.0""".stripMargin))
    val deciles = global
      .crossJoin(broadcast(totals.select("n", "t", "gini")))
      .withColumn("decile", expr("(grank - 1) * 10 DIV n + 1"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum("rev").as("decile_rev_cents"),
        first("t").as("t"), first("gini").as("gini"))
    val cumW = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    deciles.withColumn("cum_rev_cents", sum("decile_rev_cents").over(cumW))
      .select(col("decile"), col("n_customers"), col("decile_rev_cents"),
        col("cum_rev_cents"),
        expr("""CAST((2 * CAST(cum_rev_cents AS DECIMAL(38,0)) * 1000000 + t)
               |     div (2 * CAST(t AS DECIMAL(38,0))) AS DOUBLE)
               |/ 1000000.0""".stripMargin).as("cum_share"),
        col("gini"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_gini" -> (qGini _))

  val oracleSql: Map[String, String] = Map(
    // the oracle takes the PLAIN global-rank road (DuckDB is
    // single-node; the two-level rank above reproduces exactly it)
    "orders_gini" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT rev, o_custkey,
        |    row_number() OVER (ORDER BY rev ASC, o_custkey ASC) AS grank
        |  FROM rev),
        |tot AS (SELECT count(*) AS n, sum(rev) AS t,
        |    sum(CAST(grank AS HUGEINT) * rev) AS si
        |  FROM r),
        |g AS (SELECT n, t,
        |    CAST(((2 * si - (CAST(n AS HUGEINT) + 1) * t) * 2000000
        |          + CAST(n AS HUGEINT) * t)
        |         // (2 * CAST(n AS HUGEINT) * t) AS DOUBLE) / 1000000.0
        |      AS gini
        |  FROM tot),
        |d AS (SELECT (grank - 1) * 10 // n + 1 AS decile,
        |    count(*) AS n_customers, sum(rev) AS decile_rev_cents
        |  FROM r CROSS JOIN tot GROUP BY 1),
        |c AS (SELECT decile, n_customers, decile_rev_cents,
        |    sum(decile_rev_cents) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_rev_cents
        |  FROM d)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(n_customers AS BIGINT) AS n_customers,
        |  CAST(decile_rev_cents AS BIGINT) AS decile_rev_cents,
        |  CAST(cum_rev_cents AS BIGINT) AS cum_rev_cents,
        |  CAST((2 * CAST(cum_rev_cents AS HUGEINT) * 1000000 + t)
        |       // (2 * CAST(t AS HUGEINT)) AS DOUBLE) / 1000000.0
        |    AS cum_share,
        |  gini
        |FROM c CROSS JOIN g""".stripMargin)
}
