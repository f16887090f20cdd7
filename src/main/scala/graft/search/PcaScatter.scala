package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Exact.{d6, r6}

/** Two-dimensional PCA scatter table — the embedding-map histogram a
  * corpus dashboard renders (the public embedding-visualization
  * practice: project every vector onto the top two principal
  * directions, bucket to a grid, plot cell counts). PC1 is the staged
  * covariance's power-iteration eigenvector; PC2 is the power vector
  * of the Hotelling-deflated matrix (C' = C - lam v1 v1^T — the same
  * exact-decimal deflation embed_whiten ships).
  *
  * Determinism: means/eigenvectors are round-6 grid values from the
  * proven MicroGrid spectrum chain; each per-row projection is an
  * explicit left-to-right fold of (x_d - mean_d) * v_d over identical
  * double literals in both engines (the embed_whiten verification-pass
  * idiom — bit-identical doubles), and the bucket id floor(p * 16) is
  * an exact power-of-two scaling of an identical double, so every
  * bucket decision matches across engines/hosts/layouts. Cell counts
  * are INT-EXACT.
  *
  * Scale shape: rides the staged Gram sums (no new covariance pass);
  * both projections are per-row codegen HOF folds against 64 broadcast
  * literals; the only shuffle is the bounded grid-cell rollup. */
object PcaScatter extends graft.Registry {


  /** Left-fold projection of the mean-centered embedding onto a
    * literal direction vector (explicit element order, like the
    * embed_whiten verification pass). */
  private def projExpr(mean: Array[Double], v: Array[Double]): String = {
    val mLits = mean.map(x => s"CAST($x AS DOUBLE)").mkString(", ")
    val vLits = v.map(x => s"CAST($x AS DOUBLE)").mkString(", ")
    s"""aggregate(zip_with(
       |    zip_with(embedding, array($mLits), (a, b) -> CAST(a AS DOUBLE) - b),
       |    array($vLits), (z, w) -> z * w),
       |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin
  }

  def qPcaScatter(spark: SparkSession, dir: String): DataFrame = {
    val D = Spectrum.dims
    val (c, n) = Spectrum.covarianceOf(spark, dir)
    val (sums, _, _) = Spectrum.microSums(spark, dir)
    val mean = Array.tabulate(D)(i =>
      graft.functions.MicroGrid.roundDiv6(sums(i), BigInt(n)))
    val lam = Spectrum.powerIterate(c)
    val v1 = Spectrum.powerVector(c)
    val c2 = Array.tabulate(D, D)((i, j) =>
      r6(d6(c(i)(j)) - d6(lam) * d6(v1(i)) * d6(v1(j))))
    val v2 = Spectrum.powerVector(c2)
    graft.Tables.t(spark, dir, "embeddings")
      .select(
        expr(s"CAST(floor((${projExpr(mean, v1)}) * 16.0) AS BIGINT)").as("b1"),
        expr(s"CAST(floor((${projExpr(mean, v2)}) * 16.0) AS BIGINT)").as("b2"))
      .groupBy("b1", "b2")
      .agg(count(lit(1)).as("n_vecs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pca_scatter" -> (qPcaScatter _))

  val oracleSql: Map[String, String] = {
    val D = Spectrum.dims
    val I = Spectrum.spectrumIters
    val nH = "CAST(nn.n AS HUGEINT)"
    // per-row left-fold projection against a list column (the
    // embed_whiten idiom: list_sum(list_transform(...)) mirrors
    // Spark's aggregate-over-zip_with fold bit-for-bit)
    def proj(vl: String) =
      s"""list_sum(list_transform(range(1, ${D + 1}),
         |      i -> (CAST(embedding[CAST(i AS INT)] AS DOUBLE)
         |            - ml[CAST(i AS INT)]) * $vl[CAST(i AS INT)]))""".stripMargin
    Map("embed_pca_scatter" ->
      s"""WITH ${Spectrum.covSql},
         |m AS MATERIALIZED (SELECT i, j, cov FROM cov
         |      UNION ALL SELECT j, i, cov FROM cov WHERE i != j),
         |${Spectrum.iterChainSql()},
         |m2 AS MATERIALIZED (SELECT m.i, m.j,
         |    CAST(round(CAST(m.cov AS DECIMAL(18,6))
         |      - CAST(l.top_eig AS DECIMAL(9,6))
         |        * CAST(vi.v AS DECIMAL(9,6)) * CAST(vj.v AS DECIMAL(9,6)), 6)
         |      AS DOUBLE) AS cov
         |  FROM m JOIN v$I vi ON vi.i = m.i JOIN v$I vj ON vj.i = m.j
         |       CROSS JOIN lam l),
         |${Spectrum.iterChainSql("w", "m2")},
         |ml AS (SELECT list(mean ORDER BY i) AS ml FROM (
         |  SELECT means.i AS i, ${graft.functions.MicroGrid.sqlRoundDiv6("means.sx", nH)} AS mean
         |  FROM means CROSS JOIN nn)),
         |v1l AS (SELECT list(v ORDER BY i) AS v1l FROM v$I),
         |v2l AS (SELECT list(v ORDER BY i) AS v2l FROM wv$I),
         |pr AS (SELECT
         |    CAST(floor((${proj("v1l")}) * 16.0) AS BIGINT) AS b1,
         |    CAST(floor((${proj("v2l")}) * 16.0) AS BIGINT) AS b2
         |  FROM e CROSS JOIN ml CROSS JOIN v1l CROSS JOIN v2l)
         |SELECT b1, b2, count(*) AS n_vecs
         |FROM pr GROUP BY b1, b2""".stripMargin)
  }
}
