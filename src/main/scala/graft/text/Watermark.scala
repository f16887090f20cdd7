package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Green-list watermark detection (Kirchenbauer et al. 2023, "A
  * Watermark for Large Language Models"): a watermarking sampler
  * boosts a pseudorandom "green" quarter of the vocabulary, so
  * watermarked text carries a green-token fraction detectably above
  * the 1/4 baseline. The detector is the published one-proportion
  * z-test, z = (g - n/4) / sqrt(n * 3/16) = (4g - n) / sqrt(3n) —
  * the screen a training-data pipeline runs to keep synthetic
  * (model-generated) text out of a human-text corpus.
  *
  * Determinism: the green list is keyed on the repo's standard
  * cross-engine hash (first md5 nibble of the token, mod 4 == 0 —
  * a fixed gamma = 1/4 list, identical in Spark and DuckDB). Counts
  * are exact integers; z is ONE sqrt + ONE division on the same
  * integers in both engines (correctly-rounded IEEE ops on identical
  * inputs — bitwise equal); the `watermarked` flag never touches the
  * double: z > 2 is decided in exact integer form,
  * 4g - n > 0 AND (4g - n)^2 > 12n.
  *
  * Scale shape: one HOF projection per document (count green among
  * split tokens), zero joins, zero shuffle before the per-doc output
  * — embarrassingly parallel, the 100 TB shape. */
object Watermark extends graft.Registry {

  /** SQL green test for one token expression (Spark + DuckDB share
    * md5/instr/substr semantics — the Splits nibble convention). */
  private def greenSql(tok: String): String =
    s"(${graft.pipeline.Splits.nibbleSql(s"md5($tok)", "1")} % 4) = 0"

  def qWatermark(spark: SparkSession, dir: String): DataFrame =
    watermarkOf(t(spark, dir, "documents"))

  /** [[qWatermark]] over any (doc_id, text) frame. */
  private[text] def watermarkOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", expr("filter(split(text, ' '), w -> length(w) > 0)"))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      .withColumn("n_green",
        expr(s"CAST(size(filter(ws, w -> ${greenSql("w")})) AS BIGINT)"))
      .withColumn("excess", lit(4L) * col("n_green") - col("n_tokens"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_green"),
        when(col("n_tokens") > 0,
          round(col("excess").cast("double") /
            sqrt(lit(3.0) * col("n_tokens").cast("double")), 6))
          .otherwise(lit(0.0)).as("z"),
        (col("excess") > 0 &&
          col("excess") * col("excess") > lit(12L) * col("n_tokens"))
          .as("watermarked"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_watermark" -> (qWatermark _))

  val oracleSql: Map[String, String] = Map(
    "text_watermark" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(ws, w -> ${greenSql("w")})) AS BIGINT)
         |      AS n_green
         |  FROM (SELECT doc_id,
         |          list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
         |        FROM documents))
         |SELECT doc_id, n_tokens, n_green,
         |  CASE WHEN n_tokens > 0 THEN
         |    round(CAST(4 * n_green - n_tokens AS DOUBLE)
         |          / sqrt(3.0 * CAST(n_tokens AS DOUBLE)), 6)
         |  ELSE 0.0 END AS z,
         |  (4 * n_green - n_tokens) > 0
         |    AND (4 * n_green - n_tokens) * (4 * n_green - n_tokens)
         |        > 12 * n_tokens AS watermarked
         |FROM g""".stripMargin)
}
