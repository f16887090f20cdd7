package graft.search

import graft.clustering.{KMeans, Points, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfIncrementalSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("incremental add equals a from-scratch assignment against the same quantizer") {
    val ed = Points.embedDims
    val all = Points.embeddings64(spark, sf)
    val spts = all.filter(col("pid") % 10 =!= 0)
    val (centers, _) = KMeans.train(spts, Points.firstKCenters(spts, SimSearch.CELLS, ed),
      SimSearch.IVF_ITERS, ed)
    // the standing lists plus the batch add...
    val stand = IvfIncremental.addBatch(spts, centers)
    val batch = IvfIncremental.addBatch(all.filter(col("pid") % 10 === 0), centers)
    val incremental = stand.unionByName(batch).collect()
      .map(r => (r.getAs[Long]("pid"), r.getAs[Int]("k"))).toSet
    // ...must be EXACTLY the from-scratch assignment of the full
    // corpus against the same centers (assignment is per-row pure)
    val scratch = IvfIncremental.addBatch(all, centers).collect()
      .map(r => (r.getAs[Long]("pid"), r.getAs[Int]("k"))).toSet
    assert(incremental == scratch)
    assert(incremental.size == all.count())
  }

  test("retrain trigger fires on a skewed batch and stays quiet on a balanced one") {
    // crafted lists: 8 cells x 10 standing vectors, perfectly balanced
    val stand = (0 until 80).map(i => (i.toLong, i % 8)).toDF("pid", "k")
    // balanced batch: one vector per cell -> every share stays 1/8
    val balanced = (0 until 8).map(i => (1000L + i, i)).toDF("pid", "k")
    val quiet = IvfIncremental.report(spark, stand, balanced).collect()
    assert(quiet.forall(!_.getAs[Boolean]("overloaded")))
    assert(quiet.forall(!_.getAs[Boolean]("retrain")))
    // skewed batch: 60 vectors all landing in cell 3 -> its post-add
    // share is 70/148 > 2/8, the integer trigger must fire globally
    val skewed = (0 until 60).map(i => (2000L + i, 3)).toDF("pid", "k")
    val loud = IvfIncremental.report(spark, stand, skewed).collect()
      .map(r => r.getAs[Int]("cell") -> r).toMap
    assert(loud(3).getAs[Boolean]("overloaded"))
    assert((0 until 8).filter(_ != 3).forall(c => !loud(c).getAs[Boolean]("overloaded")))
    assert(loud.values.forall(_.getAs[Boolean]("retrain")),
      "the retrain flag must be global, not per-cell")
    val shares = loud.values.map(_.getAs[Double]("share_after")).toSeq
    assert(math.abs(shares.sum - 1.0) < 1e-4, "post-add shares must sum to ~1")
  }

  test("empty cells survive the report with zero counts") {
    val stand = Seq((1L, 0), (2L, 0), (3L, 1)).toDF("pid", "k")
    val batch = Seq((9L, 1)).toDF("pid", "k")
    val rows = IvfIncremental.report(spark, stand, batch).collect()
    assert(rows.length == SimSearch.CELLS, "one row per cell, populated or not")
    val m = rows.map(r => r.getAs[Int]("cell") -> r.getAs[Long]("n_total")).toMap
    assert(m(0) == 2 && m(1) == 2 && (2 until 8).forall(m(_) == 0))
  }
}
