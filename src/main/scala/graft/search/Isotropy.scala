package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Exact

/** Embedding-space isotropy report: the mean pairwise cosine across
  * ALL vector pairs — the anisotropy statistic from the public
  * representation-degeneration literature (Ethayarajh 2019; Mu &
  * Viswanath 2018's all-but-the-top motivation): a healthy embedding
  * space has mean pairwise cosine near 0, a collapsed/anisotropic one
  * (every vector sharing a dominant direction) near 1 — the one-number
  * readout that says whether `embed_whiten`'s top-PC removal is
  * needed. Reported beside it: the norm of the mean unit vector (the
  * length of the "common direction"; = sqrt of the same moment).
  *
  * The O(N²) pair sum is never materialized — the sum-vector identity
  * does it in one linear pass: Σ_{r≠s} u_r·u_s = |Σ_r u_r|² - Σ_r|u_r|²,
  * so mean pairwise cosine over unit vectors needs only the per-dim
  * sums S (D values) and the total self-dot T.
  *
  * Determinism: unit components quantize to EXACT micro-units with the
  * MicroGrid scale-0 decision (`floor(y + 0.5)` mirrored on sign —
  * identical IEEE ops in both engines; the inputs x/|x| are
  * bit-identical cross-engine because sqrt and division are
  * correctly-rounded IEEE ops and the norm fold is a strict
  * left-fold on both sides). From there everything is exact integer
  * arithmetic: S in BIGINT/HUGEINT per dim, |S|² and T widened to
  * DECIMAL(38,0), and the mean is ONE signed exact HALF_UP division
  * (num = |S|² − T can be negative in a balanced space).
  *
  * Scale shape: one per-row quantize projection, one 64-row per-dim
  * aggregate (map-side combinable), one 1-row rollup. |S_d| ≤ N·1e6,
  * so |S|² stays inside DECIMAL(38,0) to ~1e13 vectors. */
object Isotropy extends graft.Registry {

  /** Signed micro-quantize of x/nrm (scale-0 floor(y+0.5) mirrored on
    * sign — round-half-away, the MicroGrid decision), as a SQL
    * fragment valid in BOTH dialects given `x` and `nrm` exprs. */
  private def qSql(x: String, engineCast: String): String =
    s"""CAST(CASE WHEN (CAST($x AS DOUBLE) / nrm) >= 0
       | THEN  floor((CAST($x AS DOUBLE) / nrm) * 1000000.0 + 0.5)
       | ELSE -floor(-((CAST($x AS DOUBLE) / nrm) * 1000000.0) + 0.5)
       | END AS $engineCast)""".stripMargin.replace("\n", "")

  def qIsotropy(spark: SparkSession, dir: String): DataFrame =
    isotropyOf(t(spark, dir, "embeddings"))

  /** [[qIsotropy]] over any (vec_id, embedding: array<float>) frame. */
  private[search] def isotropyOf(embeds: DataFrame): DataFrame = {
    // nrm + quantize + self-dot in ONE fused codegen loop
    // (graft.functions.UnitMicroQuant): the declarative chain paid three
    // interpreted HOF passes per row, plus a fourth for the `nrm > 0`
    // filter after predicate pushdown re-derived it at the scan —
    // measured 1.3 s of this query's 1.7 s wall at sf0.1. NULL marks
    // exactly the rows the old filter dropped (null element or zero
    // norm); values are bitwise the HOF formulation the oracle mirrors
    // (UnitMicroQuantSpec pins it).
    val q = embeds
      .withColumn("u", graft.functions.GraftFunctions.unitMicroQuant(col("embedding")))
      .filter(col("u").isNotNull)
      .withColumn("qs", col("u.qs"))
      .withColumn("t", col("u.t"))
    val dims = q.select(posexplode(col("qs")).as(Seq("i", "qv")))
      .groupBy("i").agg(sum("qv").as("s"))
    val s2 = dims.agg(sum(expr("CAST(s AS DECIMAL(38,0)) * s")).as("s2"))
    val tot = q.agg(count(lit(1)).as("n_vectors"),
      sum(expr("CAST(t AS DECIMAL(38,0))")).as("tt"))
    tot.crossJoin(broadcast(s2))
      .select(col("n_vectors"),
        expr("CASE WHEN n_vectors < 2 THEN CAST(NULL AS DOUBLE) ELSE " +
          Exact.srate6("s2 - tt",
            "CAST(n_vectors AS DECIMAL(38,0)) * (n_vectors - 1) * 1000000000000") +
          " END").as("mean_pairwise_cos"),
        round(expr("sqrt(CAST(s2 AS DOUBLE)) / (CAST(n_vectors AS DOUBLE) * 1000000.0)"),
          6).as("mean_vector_norm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_isotropy" -> (qIsotropy _))

  val oracleSql: Map[String, String] = Map(
    "embed_isotropy" ->
      s"""WITH nn AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |      (a, v) -> a + v)) AS nrm
         |  FROM embeddings),
         |q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> ${qSql("x", "HUGEINT")}) AS qs
         |  FROM nn WHERE nrm > 0),
         |tv AS (SELECT vec_id,
         |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |      list_transform(qs, v -> v * v)), (a, v) -> a + v) AS t
         |  FROM q),
         |dims AS (
         |  SELECT r.i, sum(qs[CAST(r.i AS INT)]) AS s
         |  FROM q CROSS JOIN range(1, 65) r(i)
         |  WHERE r.i <= len(qs) GROUP BY r.i),
         |s2 AS (SELECT sum(CAST(s AS HUGEINT) * s) AS s2 FROM dims),
         |tot AS (SELECT count(*) AS n_vectors, sum(CAST(t AS HUGEINT)) AS tt
         |  FROM tv)
         |SELECT n_vectors,
         |  CASE WHEN n_vectors < 2 THEN CAST(NULL AS DOUBLE)
         |    ELSE ${Exact.sduck6("s2 - tt",
                "CAST(n_vectors AS HUGEINT) * (n_vectors - 1) * 1000000000000")}
         |  END AS mean_pairwise_cos,
         |  round(sqrt(CAST(s2 AS DOUBLE)) / (CAST(n_vectors AS DOUBLE) * 1000000.0),
         |    6) AS mean_vector_norm
         |FROM tot CROSS JOIN s2""".stripMargin)
}
