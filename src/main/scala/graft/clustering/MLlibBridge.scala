package graft.clustering

import org.apache.spark.ml.clustering.{KMeans => MLKMeans}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native MLlib mapping of the reference's clustering capability
  * (BASELINE.json: "directly maps to MLlib"): the same lineitem point
  * set through spark.ml's k-means|| implementation.
  *
  * Kept alongside the hand-rolled Lloyd's loop (KMeans.scala) because
  * the latter is oracle-checkable step by step; this entry proves the
  * library surface interoperates with spark.ml pipelines. Seeded but
  * init is k-means|| (randomized), so registered rows-only.
  */
object MLlibBridge extends graft.Registry {

  def qKmeansMllib(spark: SparkSession, dir: String): DataFrame = {
    // spread the point set across the session's cores before the fit:
    // the testdata's single-row-group parquet feeds ONE scan task, and
    // the cached `assembled` frame inherits that single partition, so
    // the whole k-means|| fit (~25 jobs) ran single-threaded (measured
    // 7.8 s solo at sf0.1 on local[32]; 2.0 s spread). One exchange
    // amortized over the fit's whole job chain; a no-op whenever the
    // input layout already feeds the cores (any production table).
    // Layout is a performance parameter of this declared rows-only
    // library surface (k-means|| init is randomized by design).
    val pts = Points.lineitem4dSpread(spark, dir)
    val assembled = new VectorAssembler()
      .setInputCols(Points.dims.toArray)
      .setOutputCol("features")
      .transform(pts)
      .cache()
    try {
      val model = new MLKMeans()
        .setK(4).setSeed(42L).setMaxIter(5)
        .setFeaturesCol("features").setPredictionCol("k")
        .fit(assembled)
      // materialize the K-row summary BEFORE releasing the cache: the
      // old lazy return referenced the unpersisted cache, so every
      // caller re-assembled the vectors from scratch
      val result = model.transform(assembled)
        .groupBy("k")
        .agg(count(lit(1)).as("n"))
      val rows = result.collect()
      val schema = result.schema
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
    } finally { assembled.unpersist(); () }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kmeans_mllib" -> (qKmeansMllib _))

  val oracleSql: Map[String, String] = Map.empty
}
