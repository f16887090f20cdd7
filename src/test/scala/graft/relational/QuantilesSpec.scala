package graft.relational

import graft.clustering.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The bounded-state exact-quantile engine must agree BITWISE with
  * Spark's single-buffer `percentile` aggregate — on ties, sub-ulp
  * spreads, negatives, singleton groups — while never holding more
  * than residualCap values in any one task. A tiny residualCap forces
  * the histogram-refinement loop several levels deep. */
class QuantilesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val probs = Seq(0.25, 0.5, 0.75, 0.9)

  // Adversarial columns, one group "g" each.
  private val infiniteRows = Seq.fill(100)(("g", Double.NegativeInfinity)) ++
    Seq.tabulate(300)(i => ("g", i.toDouble)) ++
    Seq.fill(100)(("g", Double.PositiveInfinity))
  private val fewUlpRows = Seq(1.0, math.nextUp(1.0), math.nextUp(math.nextUp(1.0)))
    .flatMap(v => Seq.fill(2000)(("g", v)))
  private val nearMaxRows = Seq.tabulate(2000) { i =>
    ("g", (if (i % 2 == 0) -1.0 else 1.0) * Double.MaxValue / (1 + i % 7))
  }
  /** The clean part of the NaN case; NaN rows are added to it. */
  private val nanFreeRows = Seq.tabulate(500)(i => ("g", i.toDouble))

  /** Oracle: Spark's own exact percentile, per group. */
  private def sparkPercentile(rows: Seq[(String, Double)]): Map[String, Map[Double, Double]] =
    rows.toDF("g", "v")
      .groupBy("g")
      .agg(expr(s"percentile(v, array(${probs.mkString("D,")}D))").as("ps"))
      .collect()
      .map(r => r.getString(0) -> probs.zip(r.getSeq[Double](1)).toMap)
      .toMap

  private def check(rows: Seq[(String, Double)], residualCap: Int): Unit = {
    val got = Quantiles.grouped(rows.toDF("g", "v"), "g", "v", probs, residualCap)
    val exp = sparkPercentile(rows)
    assert(got.keySet == exp.keySet)
    for (g <- exp.keySet; p <- probs) {
      val (a, b) = (got(g)(p), exp(g)(p))
      assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
        s"group $g p=$p: refinement $a != percentile $b")
    }
  }

  test("random mixed-scale data matches percentile bitwise (deep refinement)") {
    val rnd = new Random(42)
    val rows = Seq.tabulate(5000) { i =>
      val g = s"g${i % 3}"
      val v = rnd.nextInt(4) match {
        case 0 => rnd.nextDouble() * 1e9 - 5e8
        case 1 => rnd.nextInt(10).toDouble          // heavy ties
        case 2 => 1.0 + rnd.nextInt(50) * math.ulp(1.0)  // sub-ulp spread
        case _ => -math.exp(rnd.nextDouble() * 20)
      }
      (g, v)
    }
    check(rows, residualCap = 8) // force several histogram levels
  }

  test("all-equal column resolves via the width-zero rule") {
    check(Seq.fill(1000)(("g", 3.25)), residualCap = 4)
  }

  test("singleton and pair groups interpolate correctly") {
    check(Seq(("a", 7.5), ("b", 1.0), ("b", 2.0), ("c", -1.0), ("c", -1.0)),
      residualCap = 4)
  }

  test("two huge tie blocks converge (bucket never shrinks by count, only width)") {
    val rows = Seq.fill(3000)(("g", 1.0)) ++ Seq.fill(3000)(("g", 2.0))
    check(rows, residualCap = 16)
  }

  test("ungrouped convenience matches and nulls are ignored") {
    val df = (Seq.tabulate(500)(i => Some(i.toDouble)) :+ Option.empty[Double])
      .toDF("v")
    val got = Quantiles.exact(df, "v", Seq(0.5), residualCap = 32)(0.5)
    val exp = df.agg(expr("percentile(v, 0.5)")).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(got) ==
      java.lang.Double.doubleToLongBits(exp))
  }

  test("NaN values are filtered like nulls, not a query abort") {
    // the documented divergence from percentile (which sorts NaN
    // last): a corrupt value must not throw the row-count invariant
    val clean = nanFreeRows
    val got = Quantiles.grouped(
      (clean ++ Seq(("g", Double.NaN), ("g", Double.NaN))).toDF("g", "v"),
      "g", "v", probs, residualCap = 16)
    val exp = sparkPercentile(clean)
    for (p <- probs)
      assert(java.lang.Double.doubleToLongBits(got("g")(p)) ==
        java.lang.Double.doubleToLongBits(exp("g")(p)),
        s"NaN rows must vanish, leaving the clean column's answer at p=$p")
  }

  test("a near-max-double range converges (no Infinity width collapse)") {
    // bucket seeding divides BEFORE scaling: a group spanning almost
    // the whole double range must refine normally rather than collapse
    // into the extreme buckets and fail the 64-pass bound
    check(nearMaxRows, residualCap = 16)
  }

  test("infinite values sit in their own sentinel buckets") {
    check(infiniteRows, residualCap = 16)
  }

  test("a bracket a few ulps wide still refines and converges") {
    // a bracket whose width is a few ulps must still refine rather
    // than loop forever.
    check(fewUlpRows, residualCap = 8)
  }

  test("the weighted entry matches brute force on the adversarial rows") {
    // the ±Infinity sentinels, the few-ulp spread, the near-max-double
    // range and NaN rows, one group each, under mixed integer weights
    val clean = Seq("inf" -> infiniteRows, "ulp" -> fewUlpRows, "max" -> nearMaxRows,
      "nan" -> nanFreeRows).flatMap { case (g, rows) =>
      rows.zipWithIndex.map { case ((_, v), i) => (g, v, (i * 7 + 3) % 5 + 1) }
    }
    val df = (clean ++ Seq(("nan", Double.NaN, 4), ("nan", Double.NaN, 1)))
      .toDF("g", "v", "w")
    val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    for (cap <- Seq(2, 8)) {
      val got = Quantiles.weightedGrouped(df, "g", "v", "w", ps, residualCap = cap)
      for ((g, rows) <- clean.groupBy(_._1); p <- ps) {
        val exp = WeightedQuantilesSpec.brute(rows.map(r => (r._2, BigDecimal(r._3))), p)
        assert(java.lang.Double.doubleToLongBits(got(g)(p)) ==
          java.lang.Double.doubleToLongBits(exp), s"cap $cap group $g p=$p: ${got(g)(p)} vs $exp")
      }
    }
  }
}
