package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Per-source document-length percentile report — the table length
  * filters are tuned from (the min/max-length cut every published
  * cleaning recipe applies starts from exactly these quantiles; a
  * source whose p99 explodes is the boilerplate/concatenation smell).
  *
  * Rides the repo's bounded-state exact-quantile engine
  * (graft.relational.Quantiles — the §5 rule: never the single-buffer
  * `percentile` aggregate): bounded-cardinality passes (typically the
  * fused first pass and one residual collect), exact
  * interpolated values, bitwise-equal to DuckDB's quantile_cont on
  * integer inputs (the percentile_qty precedent). `n_docs` is the
  * per-source row count the engine's fused first pass already sums
  * (`n_chars` is never null, so it equals the oracle's count(*)). */
object LengthStats extends graft.Registry {

  def qLengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
    val (qs, counts) = graft.relational.Quantiles.groupedWithCounts(
      docs, "source", "n_chars", Seq(0.1, 0.5, 0.9, 0.99))
    qs.keys.toSeq.sorted.map { s =>
      val q = qs(s)
      (s, counts(s), q(0.1), q(0.5), q(0.9), q(0.99))
    }.toDF("source", "n_docs", "p10", "p50", "p90", "p99")
      .select(col("source"), col("n_docs"),
        round(col("p10"), 6).as("p10"), round(col("p50"), 6).as("p50"),
        round(col("p90"), 6).as("p90"), round(col("p99"), 6).as("p99"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_length_quantiles" -> (qLengthQuantiles _))

  val oracleSql: Map[String, String] = Map(
    "text_length_quantiles" ->
      """SELECT source, count(*) AS n_docs,
        |  round(quantile_cont(n_chars, 0.1), 6) AS p10,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 6) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 6) AS p99
        |FROM documents GROUP BY source""".stripMargin)
}
