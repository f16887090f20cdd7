package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.clustering.{KMeans, Points}
import graft.functions.Exact.r6

/** IVF+PQ composed — the full FAISS-style billion-vector architecture
  * from its public description: the coarse quantizer narrows each
  * query to its NPROBE nearest cells, and the candidates inside those
  * cells are scored from their 8-byte PQ codes with the ADC lookup
  * table (the shared-codebook, non-residual IVFPQ variant — FAISS's
  * `by_residual=false`). Composes the two already-oracled trainers:
  * SimSearch.stagedCoarse (KMeans.train) and PQ.trainCodebooks.
  *
  * Scale shape: query-time work is (corpus/CELLS)*NPROBE code rows per
  * query, each costing 8 array lookups — no vector arithmetic touches
  * the corpus at query time, and the index state is 8 bytes + 1 cell
  * id per vector. Entirely deterministic, so training, encoding,
  * probing and scoring are all one generated SQL oracle.
  */
object IvfPq extends graft.Registry {

  private val TOPK = 5

  def qIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val ed = Points.embedDims
    val pts = Points.embeddings64(spark, dir).cache()
    // 1. train both quantizers (driver holds only centers/codebooks)
    val coarse = SimSearch.stagedCoarse(pts, dir, ed)
    val codebooks = PQ.stagedCodebooks(pts, dir)
    // 2. build the index: cell id + 8 codes per vector, MATERIALIZED
    val index = encodeIndex(pts, coarse, codebooks).cache()
    index.count()
    pts.unpersist()
    // 3. probe driver-side; ship each query's probed cells + ADC table
    val qvecs = SimSearch.queryVecs(spark, dir)
    val probed = SimSearch.probeCells(qvecs, coarse, SimSearch.NPROBE, ed)
    val adc = PQ.adcRows(qvecs, codebooks).toMap
    import spark.implicits._
    val qdf = broadcast(
      probed.map { case (qid, cell) => (qid, cell, adc(qid)) }
        .toDF("q_id", "cell", "dtab"))
    // 4. candidates = probed cells' members; score codes via ADC
    val scored = qdf.join(index, qdf("cell") === index("icell"))
      .filter(col("pid") =!= col("q_id"))
      .select(col("q_id"), col("pid").as("vec_id"), PQ.adScore.as("ad"))
    val w = Window.partitionBy("q_id").orderBy(col("ad").asc, col("vec_id").asc)
    val result = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select("q_id", "vec_id", "rank", "ad")
    val rows = result.collect()
    val schema = result.schema
    index.unpersist()
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** The index frame: coarse cell id (icell) + the 8 PQ codes per
    * vector — two projections over the cached points joined on the
    * unique pid (the cell assignment and the code assignments both
    * bind a column named `k`, so they are computed apart). */
  private def encodeIndex(pts: DataFrame, coarse: Array[Array[Double]],
                          codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val cells = KMeans.assign(pts, coarse, Points.embedDims)
      .select(col("pid"), col("k").as("icell"))
    PQ.encodeCodes(pts, codebooks).join(cells, "pid")
  }

  private def ivfPqOracle: String =
    s"""WITH pts AS (${Points.embedPtsSql}),
       |${SimSearch.ivfChainSql},
       |${PQ.pqTrainSql()},
       |${PQ.pqQtabSql()},
       |cand AS (SELECT pr.q_id, a.pid AS vec_id
       |  FROM pr JOIN acell a ON a.k = pr.cell WHERE a.pid != pr.q_id),
       |scored AS (SELECT cand.q_id, cand.vec_id, sqrt(${PQ.pqAdCaseSql}) AS ad
       |  FROM cand JOIN codes c ON c.pid = cand.vec_id
       |            JOIN qtab q ON q.q_id = cand.q_id)
       |SELECT q_id, vec_id, rank, ad FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY ad ASC, vec_id ASC) AS INT) AS rank
       |  FROM scored) WHERE rank <= $TOPK""".stripMargin

  // ---- residual encoding (FAISS by_residual=true, the default) ---------

  /** Residual IVFPQ: the PQ codebooks quantize each vector's RESIDUAL
    * from its coarse cell center (r = x - c_cell), which is what makes
    * IVFPQ accurate in practice — residual magnitudes are a fraction
    * of vector magnitudes, so 8 bytes of code buys far more precision.
    * The query side pays one ADC table per (query, probed cell):
    * dtab(q, cell) is built from the query's residual against THAT
    * cell — still QN x NPROBE tiny tables on the driver. Codebooks are
    * shared across cells (per-cell codebooks are the other public
    * variant; shared is FAISS's default and keeps index state at
    * M*K'*D doubles).
    *
    * NON-DEFAULT by measurement, not folklore: at the shipped
    * (K'=16, NPROBE=2) config the oracled recall curve shows plain
    * AHEAD (0.33 vs 0.20 recall@5 at sf0.01) — 4-bit codebooks are
    * too coarse to resolve residual magnitudes, so subtracting the
    * cell center just spends the code budget twice. The IvfPqSweep
    * harness shows the crossover where residual earns its build cost:
    * K'=64/NPROBE=4 residual 0.3667 vs plain 0.2333 (and parity
    * 0.4333 at K'=256/NPROBE=8, the FAISS-default regime). qIvfPq
    * (plain) is the default searcher; this variant ships for
    * deployments running at the larger configs. */
  /** The residual index — per-cell residual codebooks plus the
    * (pid, codes, icell) table — built ONCE per (JVM, dir) and staged
    * to parquet, completing the #112 staged-index discipline for the
    * search family: a deployment trains and encodes its residual
    * IVFPQ index at ingest and stores it; queries read the stored
    * codes. Before staging, every invocation re-ran the full
    * train+encode chain (~5 s of the query's ~6 s at sf0.1). The
    * whole build is deterministic, so staging cannot change results
    * (same argument as stagedCoarse/stagedCodebooks). */
  private def stagedResidualIndex(spark: SparkSession, dir: String)
      : (Array[Array[Array[Double]]], DataFrame) = {
    val ed = Points.embedDims
    // the codes are written while the codebooks build holds the
    // residual frame, so they are always staged by then
    def codes(encode: => DataFrame) = graft.Memo.frame(spark, dir, "ivfpq-residual-codes")(encode)
    val codebooks = graft.Memo.value(dir, "ivfpq-residual-codebooks") {
      val pts = Points.embeddings64(spark, dir).cache()
      val coarse = SimSearch.stagedCoarse(pts, dir, ed)
      // residual frame: same (pid, e1..e64) shape, e_d := e_d - c_cell,d.
      // Cell assignment and residuals are MATERIALIZED before training:
      // the PQ trainer and the encoder each launch several jobs over
      // this frame, and recomputing the 8x64 assign trees + join per
      // job was almost all of the build's cost
      val cells = KMeans.assign(pts, coarse, ed)
        .select(col("pid"), col("k").as("icell")).cache()
      val dimArr = (0 until ed.length).map(d => coarse.map(_(d)).toSeq)
      val rpts = pts.join(cells, "pid").select(
        col("pid") +: ed.zipWithIndex.map { case (e, d) =>
          (col(e) - element_at(typedLit(dimArr(d)), col("icell") + 1)).as(e)
        }: _*).cache()
      rpts.count()
      pts.unpersist()
      val cbs = PQ.trainCodebooks(rpts)
      codes(PQ.encodeCodes(rpts, cbs).join(cells, "pid"))
      rpts.unpersist()
      cells.unpersist()
      cbs
    }
    (codebooks, codes(sys.error(s"residual codes of $dir not staged with their codebooks")))
  }

  def qIvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    val ed = Points.embedDims
    val (codebooks, index) = stagedResidualIndex(spark, dir)
    val coarse = SimSearch.stagedCoarse(Points.embeddings64(spark, dir), dir, ed)
    // per-(query, probed-cell) ADC tables from the query's residual
    val qvecs = SimSearch.queryVecs(spark, dir)
    val probed = SimSearch.probeCells(qvecs, coarse, SimSearch.NPROBE, ed)
    val byId = qvecs.toMap
    val qRows = probed.map { case (qid, cell) =>
      val rq = Array.tabulate(ed.length)(d => byId(qid)(d) - coarse(cell)(d))
      val dtab = PQ.adcRows(Array(qid -> rq), codebooks).head._2
      (qid, cell, dtab)
    }
    import spark.implicits._
    val qdf = broadcast(qRows.toDF("q_id", "cell", "dtab"))
    val scored = qdf.join(index, qdf("cell") === index("icell"))
      .filter(col("pid") =!= col("q_id"))
      .select(col("q_id"), col("pid").as("vec_id"), PQ.adScore.as("ad"))
    val w = Window.partitionBy("q_id").orderBy(col("ad").asc, col("vec_id").asc)
    // the index is a staged parquet read, not a cache — nothing to
    // release, no literal-frame detour needed
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select("q_id", "vec_id", "rank", "ad")
  }

  private def ivfPqResidualOracle: String = {
    val ed = Points.embedDims
    // residual points: subtract the (widened) final coarse center of
    // the row's own cell, dimension by dimension
    val resCols = ed.zipWithIndex.map { case (e, d) =>
      "a." + e + " - (CASE a.k " + (0 until SimSearch.CELLS).map(c =>
        s"WHEN $c THEN fw.k${c}_${d + 1}").mkString(" ") + s" END) AS $e"
    }.mkString(",\n    ")
    // residual query per probed cell: same subtraction for the query
    // row against the PROBED cell (not its own)
    val rqCols = ed.zipWithIndex.map { case (e, d) =>
      "p." + e + " - (CASE pr.cell " + (0 until SimSearch.CELLS).map(c =>
        s"WHEN $c THEN fw.k${c}_${d + 1}").mkString(" ") + s" END) AS $e"
    }.mkString(",\n    ")
    s"""WITH pts AS (${Points.embedPtsSql}),
       |${SimSearch.ivfChainSql},
       |rpts AS MATERIALIZED (SELECT a.pid,
       |    $resCols
       |  FROM acell a CROSS JOIN fw),
       |${PQ.pqTrainSql("rpts")},
       |rq AS (SELECT pr.q_id, pr.cell,
       |    $rqCols
       |  FROM pr JOIN pts p ON p.pid = pr.q_id CROSS JOIN fw),
       |${PQ.pqQtabSql("rq", "q_id, cell", "")},
       |cand AS (SELECT pr.q_id, pr.cell, a.pid AS vec_id
       |  FROM pr JOIN acell a ON a.k = pr.cell WHERE a.pid != pr.q_id),
       |scored AS (SELECT cand.q_id, cand.vec_id, sqrt(${PQ.pqAdCaseSql}) AS ad
       |  FROM cand JOIN codes c ON c.pid = cand.vec_id
       |            JOIN qtab q ON q.q_id = cand.q_id AND q.cell = cand.cell)
       |SELECT q_id, vec_id, rank, ad FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY ad ASC, vec_id ASC) AS INT) AS rank
       |  FROM scored) WHERE rank <= $TOPK""".stripMargin
  }

  /** Recall curve of BOTH IVFPQ variants against the exact-L2 truth
    * over the original vectors (L2 is the metric the ADC scorer
    * quantizes, so it is the honest ground truth here — the cosine
    * truth belongs to the cosine searchers). The number the round-8
    * verdict asked for: whether the residual index's extra build cost
    * (per-cell residual frame + per-(query, cell) ADC tables) buys
    * recall the shared-codebook variant doesn't have. Truth = QN
    * broadcast queries against one corpus pass; each variant's ranked
    * results join once; per-k matches are parallel conditional
    * aggregates (the simsearch_recall_curve shape, doubled). Output
    * long: (variant, k, n_matched, recall_at_k), fully oracled — the
    * two variant chains embed as nested-WITH subqueries. */
  def qIvfPqRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ed = Points.embedDims
    val pts = Points.embeddings64(spark, dir)
    val qvecs = SimSearch.queryVecs(spark, dir)
    val qdf = broadcast(
      qvecs.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("q_id", "qv"))
    // exact squared-L2, dims left-to-right (the oracle mirrors the
    // same 64-term sum in the same order)
    val l2 = ed.zipWithIndex.map { case (e, d) =>
      (col(e) - element_at(col("qv"), d + 1)) *
        (col(e) - element_at(col("qv"), d + 1))
    }.reduce(_ + _)
    val tw = Window.partitionBy("q_id").orderBy(col("d2").asc, col("vec_id").asc)
    // truth is joined by BOTH variants — cache the (QN*TOPK)-row frame
    // so the exact-L2 corpus pass runs once, not once per variant
    val truth = pts.crossJoin(qdf).filter(col("pid") =!= col("q_id"))
      .select(col("q_id"), col("pid").as("vec_id"), l2.as("d2"))
      .withColumn("trank", row_number().over(tw))
      .filter(col("trank") <= TOPK)
      .select("q_id", "vec_id", "trank")
      .cache()
    try {
      val qn = qvecs.length.toLong
      // one tagged union + ONE grouped aggregate instead of a separate
      // .head() job per variant (halves the action count; the matched
      // counts are integer sums, bit-identical either way)
      def joined(variant: String, res: DataFrame): DataFrame =
        truth.join(
          res.select(col("q_id"), col("vec_id"), col("rank").as("arank")),
          Seq("q_id", "vec_id"))
          .withColumn("variant", lit(variant))
      val aggs = (1 to TOPK).map(k =>
        coalesce(sum(when(col("trank") <= k && col("arank") <= k, 1)
          .otherwise(0)), lit(0)).cast("long").as(s"m_$k"))
      val byVariant = joined("ivfpq", qIvfPq(spark, dir))
        .unionByName(joined("ivfpq_residual", qIvfPqResidual(spark, dir)))
        .groupBy("variant").agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getString(0) -> r).toMap
      Seq("ivfpq", "ivfpq_residual").flatMap { variant =>
        // a variant sharing NO rows with the truth has no group at all
        // (the old per-variant global agg yielded a zero row instead)
        val row = byVariant.get(variant)
        (1 to TOPK).map { k =>
          val m = row.map(_.getLong(k)).getOrElse(0L)
          (variant, k, m, r6(m.toDouble / (k * qn)))
        }
      }.toDF("variant", "k", "n_matched", "recall_at_k")
    } finally { truth.unpersist(); () }
  }

  private def recallCurveOracle: String = {
    val ed = Points.embedDims
    val l2 = ed.map(e => s"(q.$e - e.$e) * (q.$e - e.$e)").mkString(" + ")
    def mk(tbl: String) = (1 to TOPK).map(k =>
      s"""SELECT $k AS k,
         |  CAST(coalesce(sum(CASE WHEN trank <= $k AND arank <= $k THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_matched FROM $tbl""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH pts AS (${Points.embedPtsSql}),
       |plainr AS MATERIALIZED ($ivfPqOracle),
       |residr AS MATERIALIZED ($ivfPqResidualOracle),
       |truth AS MATERIALIZED (SELECT q_id, vec_id, trank FROM (
       |  SELECT q.pid AS q_id, e.pid AS vec_id,
       |    row_number() OVER (PARTITION BY q.pid
       |      ORDER BY ($l2) ASC, e.pid ASC) AS trank
       |  FROM pts q JOIN pts e ON q.pid <= ${SimSearch.QN} AND e.pid != q.pid)
       |  WHERE trank <= $TOPK),
       |qn AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n FROM truth),
       |jp AS MATERIALIZED (SELECT t.q_id, t.vec_id, t.trank, p.rank AS arank
       |  FROM truth t JOIN plainr p ON p.q_id = t.q_id AND p.vec_id = t.vec_id),
       |jr AS MATERIALIZED (SELECT t.q_id, t.vec_id, t.trank, r.rank AS arank
       |  FROM truth t JOIN residr r ON r.q_id = t.q_id AND r.vec_id = t.vec_id),
       |mp AS (${mk("jp")}),
       |mr AS (${mk("jr")})
       |SELECT 'ivfpq' AS variant, k, n_matched,
       |  round(CAST(n_matched AS DOUBLE) / (k * qn.n), 6) AS recall_at_k
       |FROM mp CROSS JOIN qn
       |UNION ALL
       |SELECT 'ivfpq_residual' AS variant, k, n_matched,
       |  round(CAST(n_matched AS DOUBLE) / (k * qn.n), 6) AS recall_at_k
       |FROM mr CROSS JOIN qn""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simsearch_ivfpq" -> (qIvfPq _),
    "simsearch_ivfpq_residual" -> (qIvfPqResidual _),
    "simsearch_ivfpq_recall_curve" -> (qIvfPqRecallCurve _))

  val oracleSql: Map[String, String] = Map(
    "simsearch_ivfpq" -> ivfPqOracle,
    "simsearch_ivfpq_residual" -> ivfPqResidualOracle,
    "simsearch_ivfpq_recall_curve" -> recallCurveOracle)
}
