package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Exact.{d6, r6}

/** Top-PC removal APPLIED — the action the spectrum diagnostics decide
  * on, one level above `embed_standardize`: `embed_corr_spectrum`
  * measures whether correlated structure survives per-dim scaling;
  * when it does, the public remedy (the "all-but-the-top" common
  * component removal of the embedding post-processing literature) is
  * to project the dominant direction out of every vector:
  * z = x - (x·v) v with v the staged covariance's power-iteration
  * eigenvector. This operator reports the before/after spectrum and
  * PROVES the applied transform worked with one verification pass
  * over the transformed data.
  *
  * Scale shape: rides the staged MicroGrid Gram sums (no new
  * covariance pass); the projection is a per-row fold against 64
  * broadcast literals (codegen HOF, no shuffle); the deflated-matrix
  * eigen step is bounded driver math (Hotelling deflation
  * C' = C - lam v v^T on the rounded 64x64 matrix); the verification
  * is ONE shuffle-free 2-aggregate pass.
  *
  * Determinism: lam and v are round-6 grid values from the proven
  * spectrum chain; each deflated entry is an EXACT decimal
  * (d6(c) - d6(lam)·d6(v_i)·d6(v_j), scale 18) rounded 6 — the same
  * decision DuckDB makes on the mirrored DECIMAL expression. The
  * verification quantizes each row's along-v component of z (which is
  * p·(1-s), s = Σv_i² the exact-decimal norm) to integer micro-units
  * (exact scale-0 decision) and sums in DECIMAL — variance along the
  * removed direction reports ≈ 0 on every host and layout. */
object Whiten extends graft.Registry {


  def qWhiten(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val D = Spectrum.dims
    val (c, n) = Spectrum.covarianceOf(spark, dir)
    val lam = Spectrum.powerIterate(c)
    val v = Spectrum.powerVector(c)
    val trace = (0 until D).map(i => d6(c(i)(i))).sum.toDouble
    val shareBefore = r6(lam / trace)
    // exact-decimal squared norm of the rounded eigenvector
    val s = v.map(d6).map(x => x * x).sum.toDouble
    // Hotelling deflation on the grid: every entry an exact decimal
    val c2 = Array.tabulate(D, D)((i, j) =>
      r6(d6(c(i)(j)) - d6(lam) * d6(v(i)) * d6(v(j))))
    val lam2 = Spectrum.powerIterate(c2)
    val trace2 = (0 until D).map(i => d6(c2(i)(i))).sum.toDouble
    val shareAfter = r6(lam2 / trace2)
    // verification: z·v = p(1-s) per row, quantized-exact moments
    val vLits = v.map(x => s"CAST($x AS DOUBLE)").mkString(", ")
    val pExpr =
      s"""aggregate(zip_with(embedding, array($vLits),
         |  (a, b) -> CAST(a AS DOUBLE) * b),
         |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin
    val zq = expr(
      s"CAST(round((($pExpr) * (1.0 - CAST($s AS DOUBLE))) * 1000000.0) AS BIGINT)")
    val r = graft.Tables.t(spark, dir, "embeddings").agg(
      sum(zq.cast("decimal(38,0)")).as("sz"),
      sum((zq * zq).cast("decimal(38,0)")).as("szz")).collect()(0)
    val sz = BigInt(r.getDecimal(0).toBigInteger)
    val szz = BigInt(r.getDecimal(1).toBigInteger)
    val bn = BigInt(n)
    val varPv = graft.functions.MicroGrid.roundDiv6(szz * bn - sz * sz, bn * bn * 1000000L)
    Seq((n, D, lam, shareBefore, lam2, trace2, shareAfter, varPv))
      .toDF("n_vecs", "dim", "top_eig_removed", "share_before",
        "top_eig_after", "trace_after", "share_after", "var_pc_after")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_whiten" -> (qWhiten _))

  val oracleSql: Map[String, String] = {
    val D = Spectrum.dims
    val I = Spectrum.spectrumIters
    s"""WITH ${Spectrum.covSql},
       |m AS MATERIALIZED (SELECT i, j, cov FROM cov
       |      UNION ALL SELECT j, i, cov FROM cov WHERE i != j),
       |${Spectrum.iterChainSql()},
       |tr AS (SELECT CAST(sum(CAST(cov AS DECIMAL(18,6))) AS DOUBLE) AS trace
       |  FROM cov WHERE i = j),
       |ss AS (SELECT CAST(sum(CAST(v AS DECIMAL(9,6)) * CAST(v AS DECIMAL(9,6)))
       |    AS DOUBLE) AS s FROM v$I),
       |m2 AS MATERIALIZED (SELECT m.i, m.j,
       |    CAST(round(CAST(m.cov AS DECIMAL(18,6))
       |      - CAST(l.top_eig AS DECIMAL(9,6))
       |        * CAST(vi.v AS DECIMAL(9,6)) * CAST(vj.v AS DECIMAL(9,6)), 6)
       |      AS DOUBLE) AS cov
       |  FROM m JOIN v$I vi ON vi.i = m.i JOIN v$I vj ON vj.i = m.j
       |       CROSS JOIN lam l),
       |${Spectrum.iterChainSql("w", "m2")},
       |tr2 AS (SELECT CAST(sum(CAST(cov AS DECIMAL(18,6))) AS DOUBLE) AS trace2
       |  FROM m2 WHERE i = j),
       |vl AS (SELECT list(v ORDER BY i) AS vl FROM v$I),
       |zq AS (SELECT CAST(round((list_sum(list_transform(range(1, ${D + 1}),
       |        i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)
       |             * vl[CAST(i AS INT)]))
       |      * (1.0 - s)) * 1000000.0) AS HUGEINT) AS q
       |  FROM e CROSS JOIN vl CROSS JOIN ss),
       |ver AS (SELECT sum(q) AS sz, sum(q * q) AS szz FROM zq)
       |SELECT n AS n_vecs, $D AS dim,
       |  lam.top_eig AS top_eig_removed,
       |  round(lam.top_eig / trace, 6) AS share_before,
       |  wlam.top_eig AS top_eig_after,
       |  trace2 AS trace_after,
       |  round(wlam.top_eig / trace2, 6) AS share_after,
       |  ${graft.functions.MicroGrid.sqlRoundDiv6(
           "ver.szz * CAST(nn.n AS HUGEINT) - ver.sz * ver.sz",
           "CAST(nn.n AS HUGEINT) * nn.n * 1000000")} AS var_pc_after
       |FROM nn CROSS JOIN lam CROSS JOIN tr CROSS JOIN wlam
       |     CROSS JOIN tr2 CROSS JOIN ver""".stripMargin match {
      case sql => Map("embed_whiten" -> sql)
    }
  }
}
