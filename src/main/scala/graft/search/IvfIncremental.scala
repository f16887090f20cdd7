package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.clustering.{ClusterSql, KMeans, Points}

/** Incremental IVF index maintenance — the ingest-time complement the
  * dedup family already has (dedup_incremental): a STANDING coarse
  * quantizer + inverted lists were built at deployment time; a new
  * vector batch arrives and is assigned into the standing cells
  * WITHOUT retraining (FAISS's add-after-train contract), and the
  * report an operator actually reads comes out: per-cell standing /
  * added / total counts, the cell's corpus share before and after the
  * add, and a retrain trigger that fires when any cell's post-add
  * share exceeds twice the balanced share — computed as the INTEGER
  * comparison n_total * CELLS > 2 * corpus_total, so the verdict is
  * engine-exact with no float threshold at all.
  *
  * The standing/batch split is deterministic (pid % 10: the 10% batch
  * arrives after the 90% corpus), the standing quantizer trains on
  * the STANDING corpus only (same first-K init + 2 Lloyd sweeps as
  * the main IVF family, centers round 6), and the add is the same
  * pure per-row argmin the from-scratch build uses — which is exactly
  * why the incremental index equals a from-scratch assignment against
  * the same quantizer (IvfIncrementalSpec proves it).
  *
  * Scale shape: training reads only the standing corpus (k small
  * driver-held centers); the add is ONE pass over the batch — at
  * 100 TB the batch is the day's ingest, not the corpus — and the
  * report aggregates CELLS rows. No shuffle beyond the per-cell
  * count. */
object IvfIncremental extends graft.Registry {

  private val CELLS = SimSearch.CELLS

  /** Standing index: centers trained on the standing corpus + its
    * (pid, k) lists, staged per (JVM, dir). */
  private def standingIndex(spark: SparkSession, dir: String)
      : (Array[Array[Double]], DataFrame) = {
    val ed = Points.embedDims
    // the lists are written while the centers build holds the standing
    // corpus, so they are always staged by then
    def lists(assign: => DataFrame) = graft.Memo.frame(spark, dir, "ivf-standing-lists")(assign)
    val centers = graft.Memo.value(dir, "ivf-standing-centers") {
      val spts = Points.embeddings64(spark, dir)
        .filter(col("pid") % 10 =!= 0).cache()
      val (cs, _) =
        KMeans.train(spts, Points.firstKCenters(spts, CELLS, ed), SimSearch.IVF_ITERS, ed)
      lists(KMeans.assign(spts, cs, ed).select(col("pid"), col("k")))
      spts.unpersist()
      cs
    }
    (centers, lists(sys.error(s"standing lists of $dir not staged with their centers")))
  }

  /** Assign a batch frame into the standing cells (no retrain). */
  private[search] def addBatch(batch: DataFrame,
                               centers: Array[Array[Double]]): DataFrame =
    KMeans.assign(batch, centers, Points.embedDims).select(col("pid"), col("k"))

  /** The maintenance report over two assigned frames (standing lists +
    * the batch add) — separated so specs can feed crafted skew. */
  private[search] def report(spark: SparkSession, stand: DataFrame,
                             added: DataFrame): DataFrame = {
    val cells = spark.range(0, CELLS).select(col("id").cast("int").as("cell"))
    val sc = stand.groupBy(col("k").as("cell")).agg(count(lit(1)).as("n_standing"))
    val bc = added.groupBy(col("k").as("cell")).agg(count(lit(1)).as("n_added"))
    val rep = cells
      .join(sc, Seq("cell"), "left").join(bc, Seq("cell"), "left")
      .na.fill(0L, Seq("n_standing", "n_added"))
      .withColumn("n_total", col("n_standing") + col("n_added"))
    val tot = rep.agg(sum("n_standing").as("ts"), sum("n_total").as("tt"))
    val flagged = rep.crossJoin(broadcast(tot))
      .withColumn("share_before",
        expr(graft.functions.Exact.rate6("n_standing", "ts")))
      .withColumn("share_after",
        expr(graft.functions.Exact.rate6("n_total", "tt")))
      .withColumn("overloaded", col("n_total") * CELLS > lit(2) * col("tt"))
    // the report is CELLS-bounded: collect it ONCE (the lloyd
    // literal-frame pattern) and derive the global retrain flag —
    // one boolean — driver-side, instead of the earlier
    // flagged.crossJoin(broadcast(flagged.agg(max(...)))) which
    // re-executed the whole uncached assignment lineage a second
    // time to compute the flag
    val rows = flagged
      .select("cell", "n_standing", "n_added", "n_total",
        "share_before", "share_after", "overloaded")
      .collect()
    val retrain = rows.exists(_.getAs[Boolean]("overloaded"))
    import spark.implicits._
    rows.toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6), retrain))
      .toDF("cell", "n_standing", "n_added", "n_total",
        "share_before", "share_after", "overloaded", "retrain")
  }

  /** The registered maintenance query: the sf corpus's 10% batch added
    * into the standing 90% index. */
  def qIvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val (centers, stand) = standingIndex(spark, dir)
    val batch = Points.embeddings64(spark, dir).filter(col("pid") % 10 === 0)
    report(spark, stand, addBatch(batch, centers))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simsearch_ivf_incremental" -> (qIvfIncremental _))

  val oracleSql: Map[String, String] = {
    val ed = Points.embedDims
    Map("simsearch_ivf_incremental" ->
      s"""WITH pts AS (${Points.embedPtsSql}),
         |spts AS MATERIALIZED (SELECT * FROM pts WHERE pid % 10 != 0),
         |bpts AS (SELECT * FROM pts WHERE pid % 10 = 0),
         |${ClusterSql.c0Sql(CELLS, "", ed, "c0", "spts")},
         |${ClusterSql.lloydChainSql(CELLS, SimSearch.IVF_ITERS, "c0", ed, "spts",
              finalAssign = "astand", mat = true)},
         |${ClusterSql.assignSql(CELLS, "fw", "abatch", "bpts", ed)},
         |cells AS (SELECT CAST(f AS INT) AS cell FROM range(0, $CELLS) ff(f)),
         |sc AS (SELECT k, count(*) AS n FROM astand GROUP BY k),
         |bc AS (SELECT k, count(*) AS n FROM abatch GROUP BY k),
         |rep AS MATERIALIZED (SELECT cell,
         |    CAST(coalesce(sc.n, 0) AS BIGINT) AS n_standing,
         |    CAST(coalesce(bc.n, 0) AS BIGINT) AS n_added,
         |    CAST(coalesce(sc.n, 0) + coalesce(bc.n, 0) AS BIGINT) AS n_total
         |  FROM cells LEFT JOIN sc ON sc.k = cells.cell
         |             LEFT JOIN bc ON bc.k = cells.cell),
         |tot AS (SELECT CAST(sum(n_standing) AS BIGINT) AS ts,
         |               CAST(sum(n_total) AS BIGINT) AS tt FROM rep),
         |flagged AS (SELECT rep.*, ts, tt,
         |    rep.n_total * $CELLS > 2 * tt AS overloaded
         |  FROM rep CROSS JOIN tot)
         |SELECT cell, n_standing, n_added, n_total,
         |  ${graft.functions.Exact.duck6("n_standing", "ts")} AS share_before,
         |  ${graft.functions.Exact.duck6("n_total", "tt")} AS share_after,
         |  overloaded,
         |  (SELECT max(overloaded) FROM flagged) AS retrain
         |FROM flagged""".stripMargin)
  }
}
