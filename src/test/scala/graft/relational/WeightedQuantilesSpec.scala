package graft.relational

import graft.clustering.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

object WeightedQuantilesSpec {

  /** Reference brute force: smallest v with cumulative weight >= p*W,
    * exact decimal mass. */
  def brute(rows: Seq[(Double, BigDecimal)], p: Double): Double = {
    val w = rows.map(_._2).sum
    val t = w * BigDecimal(p.toString)
    var cum = BigDecimal(0)
    for ((v, wi) <- rows.sortBy(_._1)) {
      cum += wi
      if (cum >= t) return v
    }
    throw new IllegalStateException("mass unreached")
  }
}

/** The weighted entry of the exact-quantile engine ([[Quantiles]]). */
class WeightedQuantilesSpec extends AnyFunSuite {
  import WeightedQuantilesSpec.brute
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("hand-computed weighted median: heavy middle value wins") {
    val df = Seq((1.0, java.math.BigDecimal.ONE), (2.0, new java.math.BigDecimal(3)),
      (3.0, java.math.BigDecimal.ONE)).toDF("v", "w")
    val qs = Quantiles.weightedExact(df, "v", "w", Seq(0.25, 0.5, 0.75))
    assert(qs(0.25) == 2.0 && qs(0.5) == 2.0 && qs(0.75) == 2.0)
  }

  test("unit weights degenerate to the inverse empirical CDF") {
    val df = Seq(10.0, 20.0, 30.0, 40.0).map((_, java.math.BigDecimal.ONE)).toDF("v", "w")
    val qs = Quantiles.weightedExact(df, "v", "w", Seq(0.25, 0.5, 0.75, 1.0))
    assert(qs(0.25) == 10.0, "cum 1 reaches 0.25*4 = 1 exactly at the first value")
    assert(qs(0.5) == 20.0 && qs(0.75) == 30.0 && qs(1.0) == 40.0)
  }

  test("tiny residual cap forces histogram refinement and still matches brute force") {
    val data = (1 to 400).map { i =>
      val v = math.sin(i.toDouble) * 1000.0 + i * 0.001
      val w = BigDecimal((i % 7) + 1)
      (v, w)
    }
    val df = data.map { case (v, w) => (v, w.bigDecimal) }.toDF("v", "w")
    val qs = Quantiles.weightedExact(df, "v", "w", Seq(0.25, 0.5, 0.9),
      residualCap = 2)
    Seq(0.25, 0.5, 0.9).foreach { p =>
      assert(qs(p) == brute(data, p), s"p=$p: ${qs(p)} vs ${brute(data, p)}")
    }
  }

  test("grouped: per-group masses independent, totals exact") {
    val df = Seq(
      ("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 2),
      ("b", 5.0, 10), ("b", 6.0, 1)).toDF("g", "v", "w")
    val (qs, totals) = Quantiles.weightedGroupedWithTotals(df, "g", "v", "w", Seq(0.5))
    assert(qs("a")(0.5) == 2.0, "cum(2) = 2 reaches 0.5*4 = 2 exactly")
    assert(qs("b")(0.5) == 5.0)
    assert(totals("a").compareTo(new java.math.BigDecimal(4)) == 0)
    assert(totals("b").compareTo(new java.math.BigDecimal(11)) == 0)
  }

  test("negative and zero weights are dropped, not mass-counted") {
    val df = Seq((1.0, -5), (2.0, 0), (3.0, 1), (4.0, 1)).toDF("v", "w")
    val qs = Quantiles.weightedExact(df, "v", "w", Seq(0.5))
    assert(qs(0.5) == 3.0)
  }

  test("the registered lineitem query has 3 flag rows with ordered quartiles") {
    val rows = Analytics.qWeightedQuartiles(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (p25, p50, p75) = (r.getAs[Double]("p25_price"),
        r.getAs[Double]("p50_price"), r.getAs[Double]("p75_price"))
      assert(p25 <= p50 && p50 <= p75)
      assert(r.getAs[Double]("w_total") > 0)
    }
  }
}
