package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.VectorOps

/** Ranking-quality metrics beyond recall/NDCG/MRR: MAP@k — the
  * retrieval-benchmark headline that averages precision at every hit
  * position — and reciprocal-rank fusion of two retrievers (the
  * standard hybrid-search combiner).
  *
  * Both reuse the staged bounded qTopK/qAnn frames (QN x k rows) — no
  * new corpus passes beyond the one prefix-ranking scan RRF needs.
  *
  * Determinism: AP@k is EXACT integer arithmetic end-to-end — the
  * precision@r terms share denominator lcm(1..5) = 60, so
  * AP = sum(hit_r * hits_cum_r * (60/r)) / (60 * |truth|) is one
  * cross-multiplied HALF_UP division (the cumulative runs over the
  * <= k-row per-query window). RRF uses the same trick: each vote is
  * the exact integer 1e12 DIV (60 + rank) (fixed-point Cormack RRF
  * with K = 60), summed in BIGINT; ranking ties break on vec_id. */
object RankEval extends graft.Registry {

  private val K = SimSearch.ANN_TOPK // AP/fusion depth
  private val LCM = 60 // lcm(1..K): exact common denominator for 1/r
  private val RRF_K = 60 // Cormack's smoothing constant
  private val FP = 1000000000000L // RRF fixed-point scale

  /** MAP@k of the LSH-ANN searcher vs the brute-force truth: per
    * query, average precision over the first k approximate ranks. */
  def qMap(spark: SparkSession, dir: String): DataFrame =
    mapOf(
      SimSearch.stagedTopK(spark, dir)
        .filter(col("rank") <= K).select("q_id", "vec_id"),
      SimSearch.stagedAnn(spark, dir).select("q_id", "vec_id", "rank"))

  /** [[qMap]] over any truth (q_id, vec_id) / ann (q_id, vec_id, rank
    * 1..K) frames. */
  private[search] def mapOf(truth: DataFrame, ann: DataFrame): DataFrame = {
    val marked = ann
      .join(truth.withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0)))
    val cumW = Window.partitionBy("q_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, 0)
    val perQ = marked.withColumn("h", sum("hit").over(cumW))
      .groupBy("q_id")
      .agg(sum(expr(s"hit * h * ($LCM DIV rank)")).as("num"),
        sum("hit").cast("long").as("n_hits"))
    truth.groupBy("q_id").agg(count(lit(1)).as("k"))
      .join(perQ, Seq("q_id"), "left")
      .select(col("q_id"), col("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"""CAST((2 * coalesce(num, 0) * 1000000 + $LCM * k)
                |     DIV (2 * $LCM * k) AS DOUBLE) / 1000000.0""".stripMargin)
          .as("ap_at_k"))
  }

  /** Reciprocal-rank fusion of the full-dimension exact retriever and
    * a Matryoshka prefix-8 retriever — the hybrid-search combiner: a
    * document's fused score is the sum of 1/(60 + rank) over the
    * systems that returned it; top-K of the fused order per query.
    * The prefix ranking is one more broadcast corpus pass (the qTopK
    * shape on sliced embeddings); fusion itself joins two bounded
    * QN x 10 frames. */
  def qRrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val full = SimSearch.stagedTopK(spark, dir)
      .select(col("q_id"), col("vec_id"), col("rank").as("r_full"))
    val e = t(spark, dir, "embeddings")
      .withColumn("e8", expr("slice(embedding, 1, 8)"))
    val q = e.filter(col("vec_id") <= SimSearch.QN)
      .select(col("vec_id").as("q_id"), col("e8").as("q8"))
    val pw = Window.partitionBy("q_id").orderBy(col("cs8").desc, col("vec_id").asc)
    val prefix = e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), VectorOps.cosine("q8", "e8").as("cs8"))
      .withColumn("r_prefix", row_number().over(pw))
      .filter(col("r_prefix") <= SimSearch.TOPK)
      .select("q_id", "vec_id", "r_prefix")
    fusionOf(full, prefix)
  }

  /** [[qRrfFusion]] over any (q_id, vec_id, r_full) / (q_id, vec_id,
    * r_prefix) ranked frames. */
  private[search] def fusionOf(full: DataFrame, prefix: DataFrame): DataFrame = {
    val fw = Window.partitionBy("q_id")
      .orderBy(col("score_e12").desc, col("vec_id").asc)
    full.join(prefix, Seq("q_id", "vec_id"), "full_outer")
      .withColumn("score_e12", expr(
        s"""coalesce($FP DIV ($RRF_K + r_full), 0)
           | + coalesce($FP DIV ($RRF_K + r_prefix), 0)""".stripMargin))
      .withColumn("fused_rank", row_number().over(fw))
      .filter(col("fused_rank") <= K)
      .select(col("q_id"), col("fused_rank"), col("vec_id"),
        coalesce(col("r_full"), lit(0)).cast("long").as("rank_full"),
        coalesce(col("r_prefix"), lit(0)).cast("long").as("rank_prefix"),
        (col("score_e12").cast("double") / lit(1e12)).as("rrf_score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simsearch_map" -> (qMap _),
    "simsearch_rrf_fusion" -> (qRrfFusion _))

  val oracleSql: Map[String, String] = Map(
    "simsearch_map" ->
      s"""WITH ${SimSearch.truthSql(K)},
         |${SimSearch.annSql(K)},
         |m AS (SELECT a.q_id, a.rank,
         |    CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM ann a LEFT JOIN truth t
         |    ON a.q_id = t.q_id AND a.vec_id = t.vec_id),
         |cum AS (SELECT q_id, rank, hit,
         |    sum(hit) OVER (PARTITION BY q_id ORDER BY rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
         |  FROM m),
         |p AS (SELECT q_id, sum(hit * h * ($LCM // rank)) AS num,
         |    sum(hit) AS n_hits
         |  FROM cum GROUP BY 1),
         |kt AS (SELECT q_id, count(*) AS k FROM truth GROUP BY 1)
         |SELECT kt.q_id, CAST(k AS BIGINT) AS k,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST((2 * coalesce(num, 0) * 1000000 + $LCM * k)
         |       // (2 * $LCM * k) AS DOUBLE) / 1000000.0 AS ap_at_k
         |FROM kt LEFT JOIN p ON kt.q_id = p.q_id""".stripMargin,
    "simsearch_rrf_fusion" ->
      s"""WITH ${SimSearch.truthSql(SimSearch.TOPK, "full_r")},
         |c8 AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         |    ${VectorOps.cosineSql("q.embedding[1:8]", "e.embedding[1:8]")} AS cs8
         |  FROM embeddings q JOIN embeddings e
         |    ON q.vec_id <= ${SimSearch.QN} AND q.vec_id != e.vec_id),
         |prefix_r AS (SELECT q_id, vec_id, rank AS r_prefix FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cs8 DESC, vec_id ASC) AS rank FROM c8)
         |  WHERE rank <= ${SimSearch.TOPK}),
         |fused AS (
         |  SELECT coalesce(f.q_id, p.q_id) AS q_id,
         |    coalesce(f.vec_id, p.vec_id) AS vec_id,
         |    coalesce($FP // ($RRF_K + f.rank), 0)
         |      + coalesce($FP // ($RRF_K + r_prefix), 0) AS score_e12,
         |    coalesce(f.rank, 0) AS rank_full,
         |    coalesce(r_prefix, 0) AS rank_prefix
         |  FROM full_r f FULL OUTER JOIN prefix_r p
         |    ON f.q_id = p.q_id AND f.vec_id = p.vec_id),
         |ranked AS (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY score_e12 DESC, vec_id ASC) AS fused_rank
         |  FROM fused)
         |SELECT q_id, CAST(fused_rank AS BIGINT) AS fused_rank, vec_id,
         |  CAST(rank_full AS BIGINT) AS rank_full,
         |  CAST(rank_prefix AS BIGINT) AS rank_prefix,
         |  CAST(score_e12 AS DOUBLE) / 1e12 AS rrf_score
         |FROM ranked WHERE fused_rank <= $K""".stripMargin)
}
