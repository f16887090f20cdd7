package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** k-NN-distance outlier detection over the embeddings — the classic
  * distance-based outlier score (Ramaswamy et al. 2000): a point's
  * score is its mean distance to its k nearest neighbors; points in
  * dense label clusters score low, stragglers score high. Complements
  * the per-IVF-cell z-score QC (`embed_cell_outliers`) with a
  * cell-free, corpus-relative ranking.
  *
  * Determinism: all distances are exact BIGINT squared-L2 on
  * MicroGrid-quantized components (the KnnEval convention); the per
  * point score is an exact HALF_UP integer mean of its k neighbor
  * distances, and the corpus-relative ratio is one cross-multiplied
  * HALF_UP division widened to DECIMAL(38,0) (d2 reaches ~1e14, so
  * the 2e6 cross multiply would pass 2^63 in BIGINT).
  *
  * Scale shape: the ABSOLUTE-bounded eval set (vec_id % 10 == 0 AND
  * vec_id < 10*EN — the KnnEval cap) broadcasts against one corpus
  * pass; the k-NN cut rides the bounded-heap TopKPerKey exec; the
  * top-20 report is a total order over the EN-bounded score frame. */
object Outliers extends graft.Registry {

  private val K = 5
  private val EN = 1000
  private val TOP = 20

  private def qvec(c: String): String =
    s"transform($c, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"

  // per-pair distance: the NATIVE SquaredL2 fused loop (the KnnEval
  // convention — bitwise the aggregate(zip_with(...)) fold, minus the
  // interpreted lambda dispatch per element; SquaredL2Spec pins it)

  def qKnnOutliers(spark: SparkSession, dir: String): DataFrame =
    knnOutliersOf(t(spark, dir, "embeddings"))

  /** [[qKnnOutliers]] over any (vec_id, embedding, label) frame. */
  private[search] def knnOutliersOf(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("label"), expr(qvec("embedding")).as("q"))
    val ev = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 10L * EN)
      .select(col("vec_id").as("e_id"), col("label").as("e_label"),
        col("q").as("eq"))
    val scored = e.join(broadcast(ev), col("e_id") =!= col("vec_id"))
      .select(col("e_id"), col("e_label"), col("vec_id"),
        graft.functions.GraftFunctions.squaredL2(col("eq"), col("q")).as("dist2"))
    val knn = graft.plans.TopKPerKey(
        scored.withColumn("negd", -col("dist2").cast("double")),
        Seq("e_id"), "negd", "vec_id", K)
      .groupBy("e_id", "e_label")
      .agg(count(lit(1)).as("kk"), sum("dist2").as("sum_d2"))
      .withColumn("mean_d2", expr("(2 * sum_d2 + kk) DIV (2 * kk)"))
    val global = knn.agg(
      count(lit(1)).as("n_eval"),
      sum(expr("CAST(mean_d2 AS DECIMAL(38,0))")).as("sum_means"))
      .withColumn("global_mean_d2", expr("(2 * sum_means + n_eval) div (2 * n_eval)"))
      .select("n_eval", "global_mean_d2")
    knn.crossJoin(broadcast(global))
      .select(col("e_id").as("vec_id"), col("e_label").as("label"),
        col("mean_d2"), col("n_eval"),
        // an all-identical corpus has global mean 0: pin the ratio to
        // 1.0 (at the mean) instead of dividing by zero
        expr("""CASE WHEN global_mean_d2 = 0 THEN 1.0 ELSE
               |CAST((2 * CAST(mean_d2 AS DECIMAL(38,0)) * 1000000 + global_mean_d2)
               |     div (2 * CAST(global_mean_d2 AS DECIMAL(38,0))) AS DOUBLE)
               |/ 1000000.0 END""".stripMargin).as("score_vs_mean"))
      .orderBy(col("mean_d2").desc, col("vec_id").asc)
      .limit(TOP)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_knn_outliers" -> (qKnnOutliers _))

  private val sqlQvec =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"

  val oracleSql: Map[String, String] = Map(
    "embed_knn_outliers" ->
      s"""WITH e AS (SELECT vec_id, label, $sqlQvec AS q FROM embeddings),
         |ev AS (SELECT vec_id AS e_id, label AS e_label, q AS eq
         |  FROM e WHERE vec_id % 10 = 0 AND vec_id < ${10L * EN}),
         |sc AS (SELECT e_id, e_label, e.vec_id,
         |    list_sum(list_transform(range(1, 65),
         |      i -> (eq[i] - q[i]) * (eq[i] - q[i]))) AS dist2
         |  FROM ev JOIN e ON e_id <> e.vec_id),
         |rk AS (SELECT *, row_number() OVER
         |    (PARTITION BY e_id ORDER BY dist2 ASC, vec_id ASC) AS rk FROM sc),
         |knn AS (SELECT e_id, e_label, count(*) AS kk,
         |    sum(CAST(dist2 AS HUGEINT)) AS sum_d2
         |  FROM rk WHERE rk <= $K GROUP BY 1, 2),
         |km AS (SELECT e_id, e_label, (2 * sum_d2 + kk) // (2 * kk) AS mean_d2
         |  FROM knn),
         |g AS (SELECT count(*) AS n_eval,
         |    (2 * sum(mean_d2) + count(*)) // (2 * count(*)) AS global_mean_d2
         |  FROM km)
         |SELECT e_id AS vec_id, e_label AS label,
         |  CAST(mean_d2 AS BIGINT) AS mean_d2,
         |  CAST(n_eval AS BIGINT) AS n_eval,
         |  CASE WHEN global_mean_d2 = 0 THEN 1.0 ELSE
         |    CAST((2 * CAST(mean_d2 AS HUGEINT) * 1000000 + global_mean_d2)
         |         // (2 * CAST(global_mean_d2 AS HUGEINT)) AS DOUBLE) / 1000000.0
         |  END AS score_vs_mean
         |FROM km CROSS JOIN g
         |ORDER BY mean_d2 DESC, vec_id ASC
         |LIMIT $TOP""".stripMargin)
}
