package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** One-way ANOVA across the return-flag groups on extended price —
  * the classic "is there any between-group difference" screen that
  * generalizes the existing two-sample tests (z-test, chi-square) to
  * k groups in one statistic.
  *
  * Determinism: prices quantize to cents at read; per-group
  * (n, sum, sum-of-squares) are exact DECIMAL(38,0) aggregates; group
  * means are exact HALF_UP cent integers (the DiD convention), and
  * SSW/SSB expand via the integer identities
  *   SSW_g = ss_g - 2*mean_g*s_g + n_g*mean_g^2
  *   SSB_g = n_g*(mean_g - grand)^2
  * so both sums of squares are EXACT decimals (cent-grid quantization
  * of the means is the only — deterministic, mirrored — approximation);
  * F = (SSB/(k-1)) / (SSW/(n-k)) is one cross-multiplied HALF_UP
  * division. DECIMAL(38,0) holds the cross product to ~1e9 rows.
  *
  * Scale shape: one scan into a k-row aggregate; everything after is
  * k-bounded arithmetic. */
object Anova extends graft.Registry {

  def qAnova(spark: SparkSession, dir: String): DataFrame =
    anovaOf(t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("grp"),
        expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)").as("c")))

  /** [[qAnova]] over any (grp, c: BIGINT) frame. */
  private[relational] def anovaOf(rows: DataFrame): DataFrame = {
    val g = rows.groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(c AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("ss"))
      .withColumn("mean_c", expr("(2 * s + n) div (2 * n)")) // HALF_UP cents
    val tot = g.agg(
      count(lit(1)).as("k_groups"),
      sum("n").as("n_rows"),
      sum("s").as("st"))
      .withColumn("grand_c", expr("(2 * st + n_rows) div (2 * n_rows)"))
    val parts = g.crossJoin(broadcast(tot))
      .withColumn("ssw_g", expr(
        "ss - 2 * CAST(mean_c AS DECIMAL(38,0)) * s + n * CAST(mean_c AS DECIMAL(38,0)) * mean_c"))
      .withColumn("ssb_g", expr(
        "n * CAST(mean_c - grand_c AS DECIMAL(38,0)) * (mean_c - grand_c)"))
    val f = parts.groupBy("k_groups", "n_rows")
      .agg(sum("ssw_g").as("ssw"), sum("ssb_g").as("ssb"))
      .withColumn("f_stat", expr(
        """CAST((2 * ssb * (n_rows - k_groups) * 1000000 + ssw * (k_groups - 1))
          |     div (2 * ssw * (k_groups - 1)) AS DOUBLE) / 1000000.0""".stripMargin))
      .select(col("k_groups"), col("n_rows"),
        round(col("ssw").cast("double"), 0).as("ssw"),
        round(col("ssb").cast("double"), 0).as("ssb"), col("f_stat"))
    parts.select(col("grp"), col("n"), col("mean_c").cast("long").as("mean_cents"))
      .crossJoin(broadcast(f))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lineitem_anova" -> (qAnova _))

  val oracleSql: Map[String, String] = Map(
    "lineitem_anova" ->
      """WITH base AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(round(l_extendedprice * 100.0) AS BIGINT) AS c
        |  FROM lineitem),
        |g AS (
        |  SELECT grp, count(*) AS n,
        |    sum(CAST(c AS HUGEINT)) AS s,
        |    sum(CAST(c AS HUGEINT) * c) AS ss
        |  FROM base GROUP BY 1),
        |gm AS (SELECT *, (2 * s + n) // (2 * n) AS mean_c FROM g),
        |tot AS (SELECT count(*) AS k_groups, sum(n) AS n_rows, sum(s) AS st
        |  FROM gm),
        |gt AS (SELECT *, (2 * st + n_rows) // (2 * n_rows) AS grand_c FROM tot),
        |parts AS (
        |  SELECT gm.*, gt.k_groups, gt.n_rows, gt.grand_c,
        |    ss - 2 * mean_c * s + n * mean_c * mean_c AS ssw_g,
        |    n * (mean_c - grand_c) * (mean_c - grand_c) AS ssb_g
        |  FROM gm CROSS JOIN gt),
        |f AS (
        |  SELECT k_groups, n_rows, sum(ssw_g) AS ssw, sum(ssb_g) AS ssb
        |  FROM parts GROUP BY 1, 2),
        |ff AS (
        |  SELECT CAST(k_groups AS BIGINT) AS k_groups,
        |    CAST(n_rows AS BIGINT) AS n_rows,
        |    round(CAST(ssw AS DOUBLE), 0) AS ssw,
        |    round(CAST(ssb AS DOUBLE), 0) AS ssb,
        |    CAST((2 * ssb * (n_rows - k_groups) * 1000000 + ssw * (k_groups - 1))
        |         // (2 * ssw * (k_groups - 1)) AS DOUBLE) / 1000000.0 AS f_stat
        |  FROM f)
        |SELECT grp, CAST(n AS BIGINT) AS n, CAST(mean_c AS BIGINT) AS mean_cents,
        |  ff.k_groups, ff.n_rows, ff.ssw, ff.ssb, ff.f_stat
        |FROM gm CROSS JOIN ff""".stripMargin)
}
