package graft.sources

import graft.ReferenceData
import graft.clustering.{KMeans, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** Runs the engine against files in the reference's dataset format and
  * shapes (ReferenceData) — the exact end-to-end path a user of the
  * reference would migrate. Expected values are computed from the
  * fixture's own rows, not by the engine. */
class CsvSourceSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val irisData = ReferenceData.iris
  private val iris = irisData.path

  /** Mean over points of the Euclidean distance to the nearest center. */
  private def meanMinDist(rows: Seq[Array[Double]], centers: Seq[Array[Double]]): Double =
    rows.map(p => centers.map(c => math.sqrt(p.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)).min)
      .sum / rows.size

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  test("reads the reference's iris.txt with stable line-order pids") {
    val df = CsvNumericSource.read(spark, iris, 4).cache()
    assert(irisData.rows.size == 150)
    assert(df.count() == 150)
    assert(df.select("pid").distinct().count() == 150)
    val first = df.orderBy("pid").limit(1).select("x1", "x2", "x3", "x4")
      .as[(Double, Double, Double, Double)].head()
    val Array(a, b, c, d) = irisData.rows.head
    assert(first == ((a, b, c, d)))
    df.unpersist()
  }

  test("per-dim stats match the known iris ranges") {
    val df = CsvNumericSource.read(spark, iris, 4)
    val s = CsvNumericSource.stats(df, 4).head()
    assert(s.getAs[Long]("n") == irisData.rows.size)
    for (j <- 0 until 4) {
      assert(s.getAs[Double](s"min_x${j + 1}") == irisData.column(j).min, s"min_x${j + 1}")
      assert(s.getAs[Double](s"max_x${j + 1}") == irisData.column(j).max, s"max_x${j + 1}")
    }
  }

  test("GKA fitness kernel runs on the reference's iris points") {
    import org.apache.spark.sql.functions._
    val df = CsvNumericSource.read(spark, iris, 4)
    val centers = graft.clustering.GKA.centersFromAssign(df, pmod(col("pid"), lit(4)))
    assert(centers.length == 4)
    val obj = df.select(graft.clustering.GKA.minDist(centers).as("d"))
      .agg(avg("d")).as[Double].head()
    // the same kernel by hand: means of the pid mod 4 classes (rounded
    // to 6 places like centersFromAssign), then the mean nearest distance
    val expected = meanMinDist(irisData.rows, irisData.rows.zipWithIndex
      .groupBy(_._2 % 4).toSeq.sortBy(_._1).map { case (_, ps) =>
        (0 until 4).map(j => BigDecimal(ps.map(_._1(j)).sum / ps.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toArray
      })
    assert(close(obj, expected), s"objective $obj, by hand $expected")
  }

  test("PSO objectives evaluate on the reference's iris points") {
    val df = CsvNumericSource.read(spark, iris, 4)
    val particles = graft.clustering.PSO.initParticles(df, 2)
    val (n, objs) = graft.clustering.PSO.objectives(df, particles)
    // particles are the first 8 points, 4 centers each
    val byHand = irisData.rows.take(8).grouped(4).map(meanMinDist(irisData.rows, _)).toSeq
    assert(n == 150 && objs.length == 2)
    assert(objs.zip(byHand).forall { case (o, h) => close(o, h) },
      s"objectives ${objs.toSeq}, by hand $byHand")
  }

  test("wine.txt (13 dims) and shuttle.txt (10 dims) read with their real shapes") {
    val wineData = ReferenceData.wine
    val wine = CsvNumericSource.read(spark, wineData.path, 13)
    assert(wine.columns.length == 14) // pid + x1..x13
    assert(wineData.rows.size == 178)
    assert(wine.count() == 178, "UCI wine has 178 rows")
    val ws = CsvNumericSource.stats(wine, 13).head()
    assert(ws.getAs[Double]("max_x5") == wineData.column(4).max, "wine x5 (magnesium) maximum")

    val shuttleData = ReferenceData.shuttle
    val shuttle = CsvNumericSource.read(spark, shuttleData.path, 10)
    assert(shuttle.columns.length == 11)
    assert(shuttleData.rows.size == 43500)
    assert(shuttle.count() == 43500, "shuttle is the large reference set")

    val finlandData = ReferenceData.finland
    val finland = CsvNumericSource.read(spark, finlandData.path, 2)
    assert(finland.columns.length == 3)
    assert(finlandData.rows.size == 13467)
    assert(finland.count() == 13467, "Finland user-locations point count (per the filename)")
  }

  test("the generic k-means clusters wine end-to-end at its native 13 dims") {
    val ds = (1 to 13).map(i => s"x$i")
    val wine = CsvNumericSource.read(spark, ReferenceData.wine.path, 13)
    val out = KMeans.lloyd(wine, 3, 3, ds).collect()
    assert(out.map(_.getAs[Long]("n")).sum == 178)
    assert(out.length == 3)
  }

  test("short or non-numeric lines fail loudly, not silently skew the points") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad_short.txt"),
      "1.0,2.0,3.0,4.0\n5.0,6.0\n".getBytes)
    val short = intercept[Exception] {
      CsvNumericSource.read(spark, s"$dir/bad_short.txt", 4).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(short).exists(_.contains("fields")), short.getMessage)

    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad_alpha.txt"),
      "1.0,2.0,x,4.0\n".getBytes)
    intercept[Exception] {
      CsvNumericSource.read(spark, s"$dir/bad_alpha.txt", 4).count()
    }
  }

  test("the generic k-means clusters iris into sane partitions") {
    val df = CsvNumericSource.read(spark, iris, 4)
    val out = KMeans.lloyd(df, 3, 10).collect()
    assert(out.map(_.getAs[Long]("n")).sum == 150)
    assert(out.length == 3, "three non-empty clusters expected on iris")
    // every center is a mean of points, so inside the data's bounding box
    val centers = out.map(r => (0 until 4).map(i => r.getDouble(2 + i)).toArray)
    assert(centers.forall(_.zipWithIndex.forall { case (v, j) =>
      v >= irisData.column(j).min - 1e-6 && v <= irisData.column(j).max + 1e-6 }))
  }
}
