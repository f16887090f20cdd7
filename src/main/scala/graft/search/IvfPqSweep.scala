package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.clustering.{KMeans, Points}

/** Offline IVFPQ configuration sweep: recall@5 of the plain
  * (shared-codebook, by_residual=false) vs residual
  * (by_residual=true) index across (K', NPROBE) configurations,
  * against the exact-L2 truth — the experiment the round-9 verdict
  * asked for. At the shipped defaults (K'=16, NPROBE=2) the builder's
  * own curve shows plain AHEAD of residual (0.33 vs 0.20 recall@5);
  * residual quantization is only supposed to pay once the codebooks
  * are fine enough to resolve the (smaller) residual magnitudes —
  * FAISS defaults are K'=256, nprobe>=8. This sweep measures exactly
  * that crossover on the real corpus; SURVEY §2 #182 records the
  * verdict and the shipped default follows the measurement, not the
  * folklore.
  *
  * Not a registered query: the defaults' recall is already oracled by
  * simsearch_ivfpq_recall_curve; this is the tuning harness a
  * deployment runs before changing index config. Rides the exact same
  * private[search] building blocks the oracled queries use (adcRows /
  * trainCodebooks / probeCells derive their shape from the codebooks,
  * so a K'=256 sweep exercises the production code path, not a fork).
  */
object IvfPqSweep {

  private val TOPK = 5

  /** recall@TOPK for one (K', NPROBE) config; returns (plain, residual). */
  def recallAt(spark: SparkSession, dir: String, kPrime: Int,
               nprobe: Int): (Double, Double) = {
    import spark.implicits._
    val ed = Points.embedDims
    val pts = Points.embeddings64(spark, dir).cache()
    val coarse = SimSearch.stagedCoarse(pts, dir, ed)
    val qvecs = SimSearch.queryVecs(spark, dir)
    val probed = SimSearch.probeCells(qvecs, coarse, nprobe, ed)
    val qn = qvecs.length.toLong

    // exact-L2 truth (the metric ADC quantizes)
    val qdf = broadcast(
      qvecs.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("q_id", "qv"))
    val l2 = ed.zipWithIndex.map { case (e, d) =>
      (col(e) - element_at(col("qv"), d + 1)) *
        (col(e) - element_at(col("qv"), d + 1))
    }.reduce(_ + _)
    val tw = Window.partitionBy("q_id").orderBy(col("d2").asc, col("vec_id").asc)
    val truth = pts.crossJoin(qdf).filter(col("pid") =!= col("q_id"))
      .select(col("q_id"), col("pid").as("vec_id"), l2.as("d2"))
      .withColumn("trank", row_number().over(tw))
      .filter(col("trank") <= TOPK)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet

    val cells = KMeans.assign(pts, coarse, ed)
      .select(col("pid"), col("k").as("icell")).cache()

    def recallOf(index: DataFrame,
                 dtabs: Seq[(Long, Int, Seq[Seq[Double]])]): Double = {
      val qd = broadcast(dtabs.toDF("q_id", "cell", "dtab"))
      val scored = qd.join(index, qd("cell") === index("icell"))
        .filter(col("pid") =!= col("q_id"))
        .select(col("q_id"), col("pid").as("vec_id"), PQ.adScore.as("ad"))
      val w = Window.partitionBy("q_id").orderBy(col("ad").asc, col("vec_id").asc)
      val got = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TOPK)
        .select("q_id", "vec_id").as[(Long, Long)].collect()
      got.count(truth.contains).toDouble / (TOPK * qn)
    }

    // plain: codebooks on the raw vectors, one ADC table per query
    val plainCbs = PQ.trainCodebooks(pts, kPrime)
    val plainIdx = PQ.encodeCodes(pts, plainCbs).join(cells, "pid").cache()
    plainIdx.count()
    val plainAdc = PQ.adcRows(qvecs, plainCbs).toMap
    val plainRecall = recallOf(plainIdx,
      probed.map { case (q, c) => (q, c, plainAdc(q)) })
    plainIdx.unpersist()

    // residual: codebooks on (x - c_cell), one ADC table per (query, cell)
    val dimArr = ed.indices.map(d => coarse.map(_(d)).toSeq)
    val rpts = pts.join(cells, "pid").select(
      col("pid") +: ed.zipWithIndex.map { case (e, d) =>
        (col(e) - element_at(typedLit(dimArr(d)), col("icell") + 1)).as(e)
      }: _*).cache()
    rpts.count()
    val resCbs = PQ.trainCodebooks(rpts, kPrime)
    val resIdx = PQ.encodeCodes(rpts, resCbs).join(cells, "pid").cache()
    resIdx.count()
    rpts.unpersist()
    val byId = qvecs.toMap
    val resDtabs = probed.map { case (qid, cell) =>
      val rq = Array.tabulate(ed.length)(d => byId(qid)(d) - coarse(cell)(d))
      (qid, cell, PQ.adcRows(Array(qid -> rq), resCbs).head._2)
    }
    val resRecall = recallOf(resIdx, resDtabs)
    resIdx.unpersist()
    cells.unpersist()
    pts.unpersist()
    (plainRecall, resRecall)
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
