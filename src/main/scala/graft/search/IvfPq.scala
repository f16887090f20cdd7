package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.clustering.{KMeans, Points}

/** IVF+PQ composed — the full FAISS-style billion-vector architecture
  * from its public description: the coarse quantizer narrows each
  * query to its NPROBE nearest cells, and the candidates inside those
  * cells are scored from their 8-byte PQ codes with the ADC lookup
  * table. Composes the two already-oracled trainers:
  * SimSearch.stagedCoarse (KMeans.train) and PQ.trainCodebooks.
  *
  * Two encodings share one build ([[stagedIndex]]) and one searcher
  * ([[search]]); they differ only in whether each vector's coarse cell
  * centre is subtracted before training and encoding:
  *   - plain (`simsearch_ivfpq`, the default — FAISS's
  *     `by_residual=false`): the codebooks simsearch_pq shares encode
  *     the raw vectors, one ADC table per query;
  *   - residual (`simsearch_ivfpq_residual`, FAISS's `by_residual=true`):
  *     the codebooks quantize each vector's residual r = x - c_cell, so
  *     the query side pays one ADC table per (query, probed cell), built
  *     from the query minus THAT cell's centre.
  *
  * Residual is non-default by measurement, not folklore: at the shipped
  * (K'=16, NPROBE=2) config the oracled recall curve shows plain AHEAD
  * (0.33 vs 0.20 recall@5 at sf0.01) — 4-bit codebooks are too coarse
  * to resolve residual magnitudes. IvfPqSweep shows the crossover:
  * K'=64/NPROBE=4 residual 0.3667 vs plain 0.2333 (parity 0.4333 at
  * K'=256/NPROBE=8, the FAISS-default regime).
  *
  * Scale shape: query-time work is (corpus/CELLS)*NPROBE code rows per
  * query, each costing 8 array lookups — no vector arithmetic touches
  * the corpus at query time, and the index state is 8 bytes + 1 cell
  * id per vector. Entirely deterministic, so training, encoding,
  * probing and scoring are all one generated SQL oracle.
  */
object IvfPq extends graft.Registry {

  private val TOPK = PQ.PQ_TOPK // the searchers' depth and the curve's

  /** One variant's index — its codebooks and the (pid, code_0..7,
    * icell) table — built ONCE per (JVM, dir, variant, K') and staged to
    * parquet: a deployment trains and encodes its IVFPQ index at ingest
    * and stores it; queries read the stored codes. The plain index at
    * the default K' encodes with PQ.stagedCodebooks. Deterministic, so
    * staging cannot change results. */
  private def stagedIndex(spark: SparkSession, dir: String, residual: Boolean,
                          kPrime: Int): (Array[Array[Array[Double]]], DataFrame) = {
    val ed = Points.embedDims
    val name = (if (residual) "ivfpq-residual" else "ivfpq") +
      (if (kPrime == PQ.PQ_K) "" else s"-k$kPrime")
    // the codes are written while the codebooks build holds its
    // caches, so they are always staged by then
    def codes(encode: => DataFrame) = graft.Memo.frame(spark, dir, s"$name-codes")(encode)
    val codebooks = graft.Memo.value(dir, s"$name-codebooks") {
      val pts = Points.embeddings64(spark, dir).cache()
      val coarse = SimSearch.stagedCoarse(pts, dir, ed)
      // the cell assignment (and the residuals) are cached: the PQ
      // trainer and the encoder each launch several jobs over the
      // training frame, and recomputing the 8x64 assign trees + join
      // per job was almost all of the residual build's cost
      val cells = KMeans.assign(pts, coarse, ed)
        .select(col("pid"), col("k").as("icell")).cache()
      val src = if (!residual) pts else {
        // same (pid, e1..e64) shape, e_d := e_d - c_cell,d
        val dimArr = ed.indices.map(d => coarse.map(_(d)).toSeq)
        val rpts = pts.join(cells, "pid").select(
          col("pid") +: ed.zipWithIndex.map { case (e, d) =>
            (col(e) - element_at(typedLit(dimArr(d)), col("icell") + 1)).as(e)
          }: _*).cache()
        rpts.count()
        pts.unpersist()
        rpts
      }
      val cbs =
        if (residual || kPrime != PQ.PQ_K) PQ.trainCodebooks(src, kPrime)
        else PQ.stagedCodebooks(pts, dir)
      codes(PQ.encodeCodes(src, cbs).join(cells, "pid"))
      Seq(src, pts, cells).foreach(_.unpersist())
      cbs
    }
    (codebooks, codes(sys.error(s"$name codes of $dir not staged with their codebooks")))
  }

  /** The IVFPQ searcher over a staged index: per (query, probed cell)
    * the ADC table of the query vector — minus the probed cell's
    * centre for the residual index — shipped as QN x NPROBE tiny
    * driver-built tables, joined to that cell's index rows and ranked
    * by PQ.adTopK. */
  private def search(spark: SparkSession, dir: String, residual: Boolean,
                     kPrime: Int = PQ.PQ_K, nprobe: Int = SimSearch.NPROBE): DataFrame = {
    val ed = Points.embedDims
    val (codebooks, index) = stagedIndex(spark, dir, residual, kPrime)
    val coarse = SimSearch.stagedCoarse(Points.embeddings64(spark, dir), dir, ed)
    val qvecs = SimSearch.queryVecs(spark, dir)
    val byId = qvecs.toMap
    import spark.implicits._
    val tabs = broadcast(SimSearch.probeCells(qvecs, coarse, nprobe, ed).map { case (qid, cell) =>
      val v = byId(qid)
      val q = if (residual) Array.tabulate(ed.length)(d => v(d) - coarse(cell)(d)) else v
      (qid, cell, PQ.adcTable(q, codebooks))
    }.toDF("q_id", "cell", "dtab"))
    PQ.adTopK(tabs.join(index, tabs("cell") === index("icell")))
  }

  def qIvfPq(spark: SparkSession, dir: String): DataFrame = search(spark, dir, residual = false)

  def qIvfPqResidual(spark: SparkSession, dir: String): DataFrame = search(spark, dir, residual = true)

  /** recall@k, k = 1..TOPK, of both variants at (K', NPROBE) against
    * the exact-L2 truth over the original vectors (L2 is the metric the
    * ADC scorer quantizes, so it is the honest ground truth here — the
    * cosine truth belongs to the cosine searchers): (variant, k,
    * n_matched, recall_at_k) rows. Truth = QN broadcast queries against
    * one corpus pass, cached because both variants join it; dims summed
    * left-to-right (the oracle mirrors the same 64-term sum). */
  private[search] def recallCurve(spark: SparkSession, dir: String, kPrime: Int,
                                  nprobe: Int): Seq[(String, Int, Long, Double)] = {
    import spark.implicits._
    val ed = Points.embedDims
    val qvecs = SimSearch.queryVecs(spark, dir)
    val qdf = broadcast(
      qvecs.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("q_id", "qv"))
    val l2 = ed.zipWithIndex.map { case (e, d) =>
      (col(e) - element_at(col("qv"), d + 1)) *
        (col(e) - element_at(col("qv"), d + 1))
    }.reduce(_ + _)
    val tw = Window.partitionBy("q_id").orderBy(col("d2").asc, col("vec_id").asc)
    val truth = Points.embeddings64(spark, dir).crossJoin(qdf).filter(col("pid") =!= col("q_id"))
      .select(col("q_id"), col("pid").as("vec_id"), l2.as("d2"))
      .withColumn("trank", row_number().over(tw))
      .filter(col("trank") <= TOPK)
      .select("q_id", "vec_id", "trank")
      .cache()
    try SimSearch.recallAtK(truth, Seq(
        "ivfpq" -> search(spark, dir, residual = false, kPrime, nprobe),
        "ivfpq_residual" -> search(spark, dir, residual = true, kPrime, nprobe)),
      TOPK, qvecs.length)
    finally { truth.unpersist(); () }
  }

  /** The recall curve of both IVFPQ variants at the shipped config —
    * whether the residual index's extra build cost (residual frame +
    * per-(query, cell) ADC tables) buys recall the plain variant lacks.
    * Fully oracled: one flat WITH trains the coarse quantizer once and
    * carries both variants' chains under name prefixes. */
  def qIvfPqRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    recallCurve(spark, dir, PQ.PQ_K, SimSearch.NPROBE)
      .toDF("variant", "k", "n_matched", "recall_at_k")
  }

  // ---- oracle --------------------------------------------------------

  /** One variant's oracle CTEs under the name prefix `p`, ending in its
    * ranked top-k `${p}top` (q_id, vec_id, rank, ad): PQ training over
    * the raw points (plain) or their residuals from their own cell's
    * centre (residual), the ADC tables per query (plain) or per
    * (query, probed cell) from the query minus that cell's centre
    * (residual), then the probed cells' candidates scored and ranked.
    * Expects `pts` and SimSearch.ivfChainSql in scope. */
  private def variantSql(p: String, residual: Boolean): String = {
    // subtract the (widened) final coarse center of cell `cell` from
    // row `row`, dimension by dimension
    def minusCenter(row: String, cell: String): String =
      Points.embedDims.zipWithIndex.map { case (e, d) =>
        s"$row.$e - (CASE $cell " + (0 until SimSearch.CELLS).map(c =>
          s"WHEN $c THEN fw.k${c}_${d + 1}").mkString(" ") + s" END) AS $e"
      }.mkString(",\n    ")
    val tables =
      if (!residual) s"${PQ.pqTrainSql(p = p)},\n${PQ.pqQtabSql(p = p)}"
      else
        s"""${p}rpts AS MATERIALIZED (SELECT a.pid,
           |    ${minusCenter("a", "a.k")}
           |  FROM acell a CROSS JOIN fw),
           |${PQ.pqTrainSql(s"${p}rpts", p)},
           |${p}rq AS (SELECT pr.q_id, pr.cell,
           |    ${minusCenter("p", "pr.cell")}
           |  FROM pr JOIN pts p ON p.pid = pr.q_id CROSS JOIN fw),
           |${PQ.pqQtabSql(s"${p}rq", "q_id, cell", "", p)}""".stripMargin
    s"""$tables,
       |${p}cand AS (SELECT pr.q_id, pr.cell, a.pid AS vec_id
       |  FROM pr JOIN acell a ON a.k = pr.cell WHERE a.pid != pr.q_id),
       |${p}top AS (SELECT q_id, vec_id, rank, ad FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY ad ASC, vec_id ASC) AS INT) AS rank
       |  FROM (SELECT cand.q_id, cand.vec_id, sqrt(${PQ.pqAdCaseSql}) AS ad
       |    FROM ${p}cand cand JOIN ${p}codes c ON c.pid = cand.vec_id
       |      JOIN ${p}qtab q ON q.q_id = cand.q_id${if (residual) " AND q.cell = cand.cell" else ""}))
       |  WHERE rank <= $TOPK)""".stripMargin
  }

  private def searchOracle(residual: Boolean): String =
    s"""WITH pts AS (${Points.embedPtsSql}),
       |${SimSearch.ivfChainSql},
       |${variantSql("", residual)}
       |SELECT q_id, vec_id, rank, ad FROM top""".stripMargin

  private def recallCurveOracle: String = {
    val l2 = Points.embedDims.map(e => s"(q.$e - e.$e) * (q.$e - e.$e)").mkString(" + ")
    val variants = Seq("ivfpq" -> "pl_", "ivfpq_residual" -> "rs_")
    s"""WITH pts AS (${Points.embedPtsSql}),
       |${SimSearch.ivfChainSql},
       |${variantSql("pl_", residual = false)},
       |${variantSql("rs_", residual = true)},
       |truth AS MATERIALIZED (SELECT q_id, vec_id, trank FROM (
       |  SELECT q.pid AS q_id, e.pid AS vec_id,
       |    row_number() OVER (PARTITION BY q.pid
       |      ORDER BY ($l2) ASC, e.pid ASC) AS trank
       |  FROM pts q JOIN pts e ON q.pid <= ${SimSearch.QN} AND e.pid != q.pid)
       |  WHERE trank <= $TOPK),
       |qn AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n FROM truth),
       |${variants.map { case (_, p) =>
            s"""${p}j AS MATERIALIZED (SELECT t.q_id, t.vec_id, t.trank, a.rank AS arank
               |  FROM truth t JOIN ${p}top a ON a.q_id = t.q_id AND a.vec_id = t.vec_id),
               |${p}m AS (${SimSearch.matchedSql(s"${p}j", TOPK)})""".stripMargin
          }.mkString(",\n")}
       |${variants.map { case (v, p) =>
            s"""SELECT '$v' AS variant, k, n_matched,
               |  round(CAST(n_matched AS DOUBLE) / (k * qn.n), 6) AS recall_at_k
               |FROM ${p}m CROSS JOIN qn""".stripMargin
          }.mkString("\nUNION ALL\n")}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simsearch_ivfpq" -> (qIvfPq _),
    "simsearch_ivfpq_residual" -> (qIvfPqResidual _),
    "simsearch_ivfpq_recall_curve" -> (qIvfPqRecallCurve _))

  val oracleSql: Map[String, String] = Map(
    "simsearch_ivfpq" -> searchOracle(residual = false),
    "simsearch_ivfpq_residual" -> searchOracle(residual = true),
    "simsearch_ivfpq_recall_curve" -> recallCurveOracle)
}
