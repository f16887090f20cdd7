package graft.clustering

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The session every suite shares: graft.Session at a fixed 4 cores,
  * so partition-count-sensitive assertions do not move with the host. */
object SparkTestSession {
  lazy val spark: SparkSession = graft.Session(4)
}

class KMeansSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("assign picks the nearest center, ties to lowest k") {
    val pts = Seq((1L, 0.0, 0.0, 0.0, 0.0), (2L, 10.0, 0.0, 0.0, 0.0), (3L, 5.0, 0.0, 0.0, 0.0))
      .toDF("pid", "x1", "x2", "x3", "x4")
    val centers = Array(Array(0.0, 0.0, 0.0, 0.0), Array(10.0, 0.0, 0.0, 0.0))
    val out = KMeans.assign(pts, centers).select("pid", "k").as[(Long, Int)].collect().toMap
    assert(out(1L) == 0 && out(2L) == 1)
    assert(out(3L) == 0, "equidistant point must go to the lowest k")
  }

  test("update computes per-cluster means and sizes") {
    val pts = Seq((1L, 2.0, 0.0, 0.0, 0.0), (2L, 4.0, 0.0, 0.0, 0.0), (3L, 100.0, 0.0, 0.0, 0.0))
      .toDF("pid", "x1", "x2", "x3", "x4")
    val centers = Array(Array(0.0, 0.0, 0.0, 0.0), Array(100.0, 0.0, 0.0, 0.0))
    val u = KMeans.update(KMeans.assign(pts, centers))
      .select("k", "n", "c1").as[(Int, Long, Double)].collect()
      .map { case (k, n, c) => k -> ((n, c)) }.toMap
    assert(u(0) == ((2L, 3.0)) && u(1) == ((1L, 100.0)))
  }

  test("lloyd reseeds an empty cluster from its previous center") {
    // First-K init picks pid 1 twice: two identical centers, so every
    // point ties to k=0 and cluster 1 empties on iteration 1. It keeps
    // its previous center (the origin), which then wins the two points
    // at the origin; ClusterSql.lloydChainSql carries the same center.
    val pts = Seq((1L, 0.0, 0.0, 0.0, 0.0), (1L, 0.0, 0.0, 0.0, 0.0),
        (2L, 10.0, 0.0, 0.0, 0.0), (3L, 10.0, 0.0, 0.0, 0.0))
      .toDF("pid", "x1", "x2", "x3", "x4")
    val (centers, _) = KMeans.train(pts, Points.firstKCenters(pts, 2), 3)
    assert(centers.map(_.toSeq).toSeq == Seq(Seq(10.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 0.0, 0.0)))
    val rows = KMeans.lloyd(pts, 2, 3).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Long]("n"), (1 to 4).map(i => r.getAs[Double](s"c$i"))))
      .sortBy(_._1).toSeq
    assert(rows == Seq((0, 2L, Seq(10.0, 0.0, 0.0, 0.0)), (1, 2L, Seq(0.0, 0.0, 0.0, 0.0))))
  }

  test("lloyd SSE is non-increasing over iterations on real data") {
    val pts = Points.lineitem4d(spark, sf).cache()
    var centers = Points.firstKCenters(pts, 4)
    var last = Double.MaxValue
    for (_ <- 1 to 4) {
      val sse = KMeans.assign(pts, centers)
        .agg(org.apache.spark.sql.functions.sum("dist")).as[Double].head()
      assert(sse <= last + 1e-6, s"SSE rose: $sse > $last")
      last = sse
      centers = KMeans.train(pts, centers, 1)._1
    }
  }

  test("dataset stats match a direct computation") {
    val s = Points.stats(spark, sf).collect().head
    assert(s.getAs[Long]("n") == 6000L)
    assert(s.getAs[Double]("min_x3") >= 0.0 && s.getAs[Double]("max_x3") <= 0.2)
  }

  test("randomCenters draws k distinct dataset points, reproducibly per seed") {
    val pts = Points.lineitem4d(spark, sf).cache()
    try {
      val c1 = Points.randomCenters(pts, 4, seed = 7)
      val c2 = Points.randomCenters(pts, 4, seed = 7)
      val c3 = Points.randomCenters(pts, 4, seed = 8)
      assert(c1.length == 4)
      assert(c1.map(_.toSeq).toSet.size == 4, "centers must be distinct points")
      assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq, "same seed, same draw")
      assert(c1.map(_.toSeq).toSeq != c3.map(_.toSeq).toSeq, "different seed, different draw")
      // every drawn center is an actual dataset point
      val rows = pts.select(Points.dims.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(r => Points.dims.indices.map(r.getDouble).toList).toSet
      assert(c1.forall(c => rows.contains(c.toList)))
    } finally { pts.unpersist(); () }
  }

  test("lloyd from random centers converges like the deterministic init") {
    val out = KMeans.qRandomInit(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n")).sum == 6000L)
    assert(out.length <= 4 && out.nonEmpty)
  }

  test("bic/aic: one selected k, selected bic minimal, criteria differ by kD(ln n - 2)") {
    val rows = KMeans.qBic(spark, sf).collect()
      .map(r => (r.getAs[Int]("k_clusters"), r.getAs[Long]("n"),
        r.getAs[Double]("mean_sq_dist"), r.getAs[Double]("bic"),
        r.getAs[Double]("aic"), r.getAs[Boolean]("is_best")))
    assert(rows.map(_._1).sorted.toSeq == Seq(2, 3, 4, 6))
    val best = rows.filter(_._6)
    assert(best.length == 1, "exactly one selected model")
    assert(best.head._4 == rows.map(_._4).min, "selected k minimizes BIC")
    rows.foreach { case (k, n, msd, bic, aic, _) =>
      assert(msd > 0 && n > 0)
      // bic - aic = kD ln(n) - 2kD exactly (shared fit term cancels)
      val expected = k * 4 * (math.log(n.toDouble) - 2)
      assert(math.abs((bic - aic) - expected) < 1e-4,
        s"k=$k: bic-aic ${bic - aic} vs $expected")
    }
  }

  test("calinski-harabasz: positive variance ratio over every assigned point") {
    val r = KMeans.qCalinskiHarabasz(spark, sf).collect()(0)
    assert(r.getAs[Long]("n") == 6000L, "every point participates")
    assert(r.getAs[Long]("k_used") >= 2, "ratio needs at least two clusters")
    assert(r.getAs[Double]("b") > 0 && r.getAs[Double]("w") > 0)
    assert(r.getAs[Double]("ch") > 0)
  }
}
