package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Int8 scalar quantization of the embedding corpus + top-k search
  * over the quantized vectors — the standard memory/bandwidth lever
  * for vector search at scale (a 64-dim float corpus is 256 B/vector;
  * int8 is 64 B, so 4x more corpus fits per executor and per scan).
  *
  * Quantization is per-vector max-abs: scale = max|x|/127,
  * q_i = floor(x_i / scale) in [-127, 127]. Scoring is then an
  * INTEGER dot product — exact cross-engine (no float-sum rounding at
  * all), which is why the whole operator oracles bit-perfectly: every
  * per-element double op (parse, divide, floor) is IEEE-identical in
  * Spark and DuckDB, and everything after is int64 arithmetic.
  *
  * Scale shape mirrors the brute-force searcher: quantize in the scan
  * stage (one codegen'd HOF, zero shuffle), broadcast the small query
  * set, rank per query — the row_number idiom the TopKRewriteRule
  * turns into the bounded-heap TopKPerKey exec.
  */
object Quantized extends graft.Registry {

  private val QN = 5 // query vectors: vec_id <= QN, like SimSearch
  private val TOPK = 10

  private val quantizeSql =
    "CASE WHEN array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE)))) > 0 " +
      "THEN transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / " +
      "(CAST(array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS DOUBLE) / 127.0D)) AS BIGINT)) " +
      "ELSE transform(embedding, x -> CAST(0 AS BIGINT)) END"

  /** The quantization HOF as a Column (exposed for specs). */
  val quantizeExpr: org.apache.spark.sql.Column = expr(quantizeSql)

  /** Top-k per query by integer dot product over int8-quantized
    * vectors. Output is all-integer — rank ties break on vec_id. */
  def qQuantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    val qz = t(spark, dir, "embeddings")
      .select(col("vec_id"), expr(quantizeSql).as("q"))
    val queries = qz.filter(col("vec_id") <= QN)
      .select(col("vec_id").as("q_id"), col("q").as("qq"))
    val scored = qz.join(broadcast(queries), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        expr("aggregate(sequence(1, size(q)), CAST(0 AS BIGINT), " +
          "(a, i) -> a + element_at(qq, i) * element_at(q, i))").as("score"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select("q_id", "vec_id", "rank", "score")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simsearch_quantized" -> (qQuantizedTopK _))

  val oracleSql: Map[String, String] = Map(
    "simsearch_quantized" ->
      s"""WITH qz AS (
         |  SELECT vec_id,
         |    CASE WHEN list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) > 0
         |      THEN list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) /
         |        (CAST(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS DOUBLE) / 127.0)) AS BIGINT))
         |      ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS q
         |  FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id AS q_id, b.vec_id,
         |    CAST(list_sum(list_transform(range(1, len(a.q) + 1),
         |      i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS score
         |  FROM qz a JOIN qz b ON a.vec_id <= $QN AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, score,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored)
         |SELECT q_id, vec_id, rank, score FROM ranked WHERE rank <= $TOPK""".stripMargin)
}
