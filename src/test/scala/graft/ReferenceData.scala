package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Deterministic stand-ins for the reference's dataset files, in its
  * format (headerless comma-separated numbers, one point per line) and
  * at its shapes: iris 150 x 4, wine 178 x 13, shuttle 43,500 x 10 (the
  * class label is the tenth column) and User-locations-Finland
  * 13,467 x 2. Each file is written once per JVM from a fixed seed.
  * `rows` holds the values parsed back from the file's own text, so a
  * test can compute what the engine must return without the engine. */
object ReferenceData {

  final case class Dataset(path: String, rows: IndexedSeq[Array[Double]]) {
    def column(j: Int): IndexedSeq[Double] = rows.map(_(j))
  }

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-reference-data")
    d.toFile.deleteOnExit()
    d
  }

  /** Class blobs: `sizes(c)` points around `means(c)` with per-dimension
    * spread `sds(c)`, kept inside [lo, hi] and rounded to `scale`
    * decimals (0 = integers). Rows come class after class, like the
    * reference's files. */
  private def blobs(name: String, seed: Long, sizes: Seq[Int], means: Seq[Seq[Double]],
                    sds: Seq[Seq[Double]], scale: Seq[Int], lo: Double, hi: Double): Dataset = {
    val rnd = new java.util.Random(seed)
    val lines = sizes.indices.flatMap { c =>
      Seq.fill(sizes(c)) {
        means(c).indices.map { j =>
          val v = math.min(hi, math.max(lo, means(c)(j) + rnd.nextGaussian() * sds(c)(j)))
          BigDecimal(v).setScale(scale(j), BigDecimal.RoundingMode.HALF_UP).toString
        }.mkString(",")
      }
    }
    val p = dir.resolve(name)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    p.toFile.deleteOnExit()
    Dataset(p.toString, lines.map(_.split(",").map(_.toDouble)))
  }

  /** Three species of 50, at the published per-species iris means. */
  lazy val iris: Dataset = blobs("iris.txt", 150L, Seq(50, 50, 50),
    Seq(Seq(5.0, 3.4, 1.5, 0.2), Seq(5.9, 2.8, 4.3, 1.3), Seq(6.6, 3.0, 5.6, 2.0)),
    Seq(Seq(0.35, 0.38, 0.17, 0.1), Seq(0.52, 0.31, 0.47, 0.2), Seq(0.64, 0.32, 0.55, 0.27)),
    Seq.fill(4)(1), lo = 0.1, hi = 9.9)

  /** Three cultivars (59 / 71 / 48) on the UCI wine attribute scales:
    * x5 is magnesium (three digits), x13 proline. */
  lazy val wine: Dataset = {
    val base = Seq(13.0, 2.3, 2.4, 19.5, 100.0, 2.3, 2.0, 0.36, 1.6, 5.1, 0.96, 2.6, 750.0)
    val sd = Seq(0.8, 1.1, 0.27, 3.3, 14.0, 0.6, 1.0, 0.12, 0.57, 2.3, 0.23, 0.7, 315.0)
    val shift = Seq(0.7, -0.4, 0.1, -2.0, 6.0, 0.5, 0.9, -0.07, 0.3, 0.4, 0.1, 0.5, 360.0)
    blobs("wine.txt", 178L, Seq(59, 71, 48),
      Seq(1.0, 0.0, -1.0).map(f => base.zip(shift).map { case (b, s) => b + f * s }),
      Seq.fill(3)(sd.map(_ * 0.5)), Seq(2, 2, 2, 1, 0, 2, 2, 2, 2, 2, 2, 2, 0),
      lo = 0.01, hi = 2000.0)
  }

  /** Nine integer sensor readings plus the class label, the majority
    * class first, as in the UCI shuttle set. */
  lazy val shuttle: Dataset = {
    val sizes = Seq(34108, 6748, 2458, 132, 37, 11, 6)
    val means = sizes.indices.map(c => (0 until 9).map(j => 40.0 + 7.0 * c + 3.0 * j) :+ (c + 1).toDouble)
    val sds = sizes.indices.map(_ => Seq.fill(9)(12.0) :+ 0.0)
    blobs("shuttle.txt", 43500L, sizes, means, sds, Seq.fill(10)(0), lo = -100.0, hi = 200.0)
  }

  /** Latitude / longitude around six Finnish towns. */
  lazy val finland: Dataset = {
    val towns = Seq((60.17, 24.94), (61.50, 23.76), (60.45, 22.27), (65.01, 25.47),
      (62.89, 27.68), (62.24, 25.75))
    val sizes = Seq(4000, 2500, 2200, 2000, 1400, 1367)
    blobs("User-locations-Finland_N13467-D2.txt", 13467L, sizes,
      towns.map { case (a, b) => Seq(a, b) }, Seq.fill(6)(Seq(0.3, 0.5)), Seq(4, 4),
      lo = 19.0, hi = 71.0)
  }
}
