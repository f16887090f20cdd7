package graft.search

import org.apache.spark.sql.SparkSession

/** Offline IVFPQ configuration sweep: recall@5 of the plain
  * (shared-codebook, by_residual=false) vs residual
  * (by_residual=true) index across (K', NPROBE) configurations,
  * against the exact-L2 truth. At the shipped defaults (K'=16,
  * NPROBE=2) the curve shows plain AHEAD of residual (0.33 vs 0.20
  * recall@5); residual quantization is only supposed to pay once the
  * codebooks are fine enough to resolve the (smaller) residual
  * magnitudes — FAISS defaults are K'=256, nprobe>=8. This sweep
  * measures that crossover on the real corpus; SURVEY §2 #182 records
  * the verdict and the shipped default follows the measurement.
  *
  * Not a registered query: each config is the k=5 row of
  * IvfPq.recallCurve, the function simsearch_ivfpq_recall_curve runs
  * at the defaults — same staged index build, searcher and truth. An
  * index is staged per (variant, K'), so configs sharing a K' build it
  * once.
  */
object IvfPqSweep {

  /** recall@5 for one (K', NPROBE) config; returns (plain, residual). */
  def recallAt(spark: SparkSession, dir: String, kPrime: Int,
               nprobe: Int): (Double, Double) = {
    val at5 = IvfPq.recallCurve(spark, dir, kPrime, nprobe)
      .collect { case (variant, k, _, recall) if k == PQ.PQ_TOPK => variant -> recall }.toMap
    (at5("ivfpq"), at5("ivfpq_residual"))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val configs =
      if (args.length > 1) args.drop(1).toSeq.map { s =>
        val Array(k, p) = s.split("x"); (k.toInt, p.toInt)
      }
      else Seq((16, 2), (64, 4), (64, 8), (256, 8))
    val spark = graft.Session()
    configs.foreach { case (k, p) =>
      val (plain, res) = recallAt(spark, dir, k, p)
      println(f"IVFPQSWEEP kprime=$k%d nprobe=$p%d plain=$plain%.4f residual=$res%.4f " +
        (if (res >= plain) "residual_wins" else "plain_wins"))
    }
    spark.stop()
  }
}
