package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Word burstiness (Church & Gale 1995 / Katz's k-mixture intuition):
  * the variance-to-mean ratio (VMR) of a word's per-document counts.
  * Function words spread evenly (VMR near 1, Poisson-like); topical
  * words "burst" (VMR >> 1) — the standard lexical statistic behind
  * stopword induction and topicality weighting in corpus pipelines.
  * Reported for the corpus's top-20 words by total occurrences.
  *
  * Determinism: per-word (n_docs_total, sum, sum_sq) are exact BIGINT
  * aggregates over integer per-doc counts (docs NOT containing the
  * word count as zeros — handled in closed form, no join against the
  * full doc list); VMR = ((N*ss - s^2) * 1e6 ... ) as ONE exact
  * cross-multiplied HALF_UP integer division:
  *   mean = s/N,  var = ss/N - (s/N)^2  (population variance)
  *   vmr  = var/mean = (N*ss - s*s) / (N*s)
  * The top-20 cut is a total order (total DESC, word ASC).
  *
  * Scale shape: one explode + one vocabulary-bounded groupBy; the doc
  * count is a 1-row broadcast. */
object Burstiness extends graft.Registry {

  private val TOPK = 20

  def qBurstiness(spark: SparkSession, dir: String): DataFrame =
    burstinessOf(t(spark, dir, "documents"))

  /** [[qBurstiness]] over any (doc_id, text) frame. */
  private[text] def burstinessOf(docs: DataFrame): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(expr(
        "filter(split(text, ' '), w -> length(w) > 0)")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // DECIMAL(38,0) BEFORE the multiplies: at sf1 scale 2e6 * (N*ss -
    // s^2) passes 2^63 for the most frequent words (the Winnowing
    // density wrap class, advice r13) — the oracle computes in HUGEINT
    perDoc.groupBy("word")
      .agg(count(lit(1)).as("n_docs_with"),
        sum("c").as("s"),
        sum(col("c") * col("c")).as("ss"))
      .crossJoin(broadcast(nDocs))
      .withColumn("nd_d", col("n_docs").cast("decimal(38,0)"))
      .withColumn("s_d", col("s").cast("decimal(38,0)"))
      .select(col("word"), col("n_docs_with"), col("s").as("total"),
        expr("""CAST((2 * (nd_d * ss - s_d * s) * 1000000 + nd_d * s)
               |     div (2 * nd_d * s) AS DOUBLE) / 1000000.0""".stripMargin)
          .as("vmr"))
      .orderBy(col("total").desc, col("word").asc)
      .limit(TOPK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_burstiness" -> (qBurstiness _))

  val oracleSql: Map[String, String] = Map(
    "text_burstiness" ->
      s"""WITH pd AS (
         |  SELECT doc_id, word, count(*) AS c
         |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
         |          w -> length(w) > 0)) AS word
         |        FROM documents)
         |  GROUP BY doc_id, word),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |agg AS (
         |  SELECT word, count(*) AS n_docs_with,
         |    sum(c) AS s, sum(c * c) AS ss
         |  FROM pd GROUP BY word)
         |SELECT word, CAST(n_docs_with AS BIGINT) AS n_docs_with,
         |  CAST(s AS BIGINT) AS total,
         |  CAST((2 * (n_docs * ss - s * s) * 1000000 + n_docs * s)
         |       // (2 * CAST(n_docs * s AS HUGEINT)) AS DOUBLE) / 1000000.0
         |    AS vmr
         |FROM agg CROSS JOIN n
         |ORDER BY total DESC, word ASC
         |LIMIT $TOPK""".stripMargin)
}
