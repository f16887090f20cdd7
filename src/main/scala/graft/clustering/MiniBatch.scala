package graft.clustering

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Exact.r6

/** Mini-batch k-means (Sculley 2010, "Web-Scale K-Means Clustering"):
  * each iteration assigns only a deterministic SUBSET of the points to
  * the current centers and blends the batch means in with a per-center
  * learning rate eta = n_batch / v_cumulative — the update rule that
  * made k-means practical at web scale, and the natural companion to
  * the engine's full-pass Lloyd loop (the reference's kmeans.java runs
  * full passes only; at 100 TB a mini-batch pass touches 1/4 of the
  * fact per iteration instead of all of it).
  *
  * Determinism (§4): batches are the pure hash gate
  * (pid * 31 + iter) % 4 == 0 — iteration-varied, seed-free, identical
  * in both engines; batch means round to 6 dp inside the engines (the
  * standing center-rounding spec); the blend
  * c' = round(c + (m - c) * (n / v'), 6) is computed from round-6
  * doubles and exact integer counts, so both engines evaluate
  * identical IEEE expressions; empty-batch centers keep their previous
  * value and cumulative count (LEFT-JOIN semantics on both sides).
  *
  * Scale shape: per iteration ONE filtered pass (the gate prunes at
  * the scan) into a K-row partial aggregate; the blend is driver math
  * on K x (D+1) doubles, exactly the lloyd discipline.
  *
  * Reference: vkmouse/Spark_clustering kmeans.java full-pass loop —
  * this is the published mini-batch variant of the same objective. */
object MiniBatch extends graft.Registry {
  import Points.{dims, ptsSql}

  private val K = 4
  private val ITERS = 3

  def qMiniBatch(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4dSpread(spark, dir).cache()
    try {
      val centers = Points.firstKCenters(pts, K)
      val v = Array.fill(K)(0L)
      for (i <- 1 to ITERS) {
        val batch = pts.filter(expr(s"(pid * 31 + $i) % 4 = 0"))
        KMeans.update(KMeans.assign(batch, centers)).collect().foreach { r =>
          val k = r.getAs[Int]("k")
          val n = r.getAs[Long]("n")
          val vNew = v(k) + n
          val eta = n.toDouble / vNew.toDouble
          for (j <- dims.indices) {
            val m = r.getDouble(2 + j)
            centers(k)(j) = r6(centers(k)(j) + (m - centers(k)(j)) * eta)
          }
          v(k) = vNew
        }
      }
      import spark.implicits._
      (0 until K).map { k =>
        (k, v(k), centers(k)(0), centers(k)(1), centers(k)(2), centers(k)(3))
      }.toDF("k", "v", "c1", "c2", "c3", "c4")
    } finally { pts.unpersist(); () }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kmeans_minibatch" -> (qMiniBatch _))

  val oracleSql: Map[String, String] = Map(
    "kmeans_minibatch" -> {
      val iters = (1 to ITERS).map { i =>
        val cIn = if (i == 1) "c0" else s"c${i - 1}"
        val vIn = if (i == 1) "v0" else s"v${i - 1}"
        val blend = dims.indices.map { j =>
          val c = s"c.c${j + 1}"
          val m = s"u$i.c${j + 1}"
          s"""CASE WHEN u$i.n IS NULL THEN $c
             |  ELSE round($c + ($m - $c)
             |    * (CAST(u$i.n AS DOUBLE) / CAST($vIn.v + u$i.n AS DOUBLE)), 6)
             |  END AS c${j + 1}""".stripMargin
        }.mkString(",\n    ")
        s"""b$i AS (SELECT * FROM pts WHERE (pid * 31 + $i) % 4 = 0),
           |${ClusterSql.widenSql(K, cIn, s"${cIn}w$i")},
           |${ClusterSql.assignSql(K, s"${cIn}w$i", s"a$i", src = s"b$i")},
           |${ClusterSql.updateSql(s"a$i", s"u$i", dims)},
           |v$i AS (
           |  SELECT c.k, $vIn.v + coalesce(u$i.n, 0) AS v
           |  FROM $cIn c JOIN $vIn ON $vIn.k = c.k
           |  LEFT JOIN u$i ON u$i.k = c.k),
           |c$i AS (
           |  SELECT c.k,
           |    $blend
           |  FROM $cIn c JOIN $vIn ON $vIn.k = c.k
           |  LEFT JOIN u$i ON u$i.k = c.k)""".stripMargin
      }.mkString(",\n")
      s"""WITH pts AS ($ptsSql),
         |${ClusterSql.c0Sql(K, ptsSql, dims)},
         |v0 AS (SELECT k, CAST(0 AS BIGINT) AS v FROM c0),
         |$iters
         |SELECT fc.k, CAST(fv.v AS BIGINT) AS v,
         |  fc.c1 AS c1, fc.c2 AS c2, fc.c3 AS c3, fc.c4 AS c4
         |FROM c$ITERS fc JOIN v$ITERS fv ON fv.k = fc.k""".stripMargin
    })
}
