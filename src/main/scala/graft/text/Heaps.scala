package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Heaps'-law vocabulary-growth curve + log-log OLS fit: V(N) = k*N^b,
  * the corpus-linguistics companion to the Zipf profile (`text_zipf`)
  * — how fast NEW vocabulary appears as the corpus grows, the number
  * that sizes a tokenizer's vocab budget and flags synthetic/repetitive
  * corpora (natural text: b ~ 0.4-0.6; a looping corpus flattens).
  *
  * Ten growth checkpoints at doc_id deciles: N = cumulative tokens,
  * V = cumulative distinct words (a word counts from its FIRST doc).
  *
  * Determinism: token counts and first-occurrence doc ids are exact
  * integers; checkpoint membership is an integer <= compare against
  * the broadcast 10-row checkpoint frame (vocabulary x 10 and
  * docs x 10 joins — the Burstiness scale class, rollups bounded by
  * vocab, never corpus-squared); the OLS moment sums run as ORDERED
  * cumulative windows over the 10-row checkpoint frame (sequential
  * accumulation, identical in both engines at this frame size — the
  * KM convention), and beta/k are closed-form expressions of the
  * final sums rounded 6. */
object Heaps extends graft.Registry {

  def qHeaps(spark: SparkSession, dir: String): DataFrame =
    heapsOf(t(spark, dir, "documents").select("doc_id", "text"))

  /** [[qHeaps]] over any (doc_id, text) frame. */
  private[text] def heapsOf(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(expr("filter(split(text, ' '), w -> length(w) > 0)")).as("word"))
    val docTokens = words.groupBy("doc_id").agg(count(lit(1)).as("toks"))
    val firstDoc = words.groupBy("word").agg(min("doc_id").as("fdoc"))
    val cps = docs.agg(max("doc_id").as("maxd"))
      .select(explode(expr(
        "transform(sequence(1, 10), i -> struct(i AS cp_idx, i * maxd DIV 10 AS cp))"))
        .as("c"))
      .select(col("c.cp_idx"), col("c.cp"))
    val n = docTokens.join(broadcast(cps), col("doc_id") <= col("cp"))
      .groupBy("cp_idx", "cp").agg(sum("toks").as("n_tokens"))
    val v = firstDoc.join(broadcast(cps), col("fdoc") <= col("cp"))
      .groupBy("cp_idx").agg(count(lit(1)).as("vocab"))
    val pts = n.join(v, "cp_idx")
      .withColumn("x", expr("ln(CAST(n_tokens AS DOUBLE))"))
      .withColumn("y", expr("ln(CAST(vocab AS DOUBLE))"))
    val cumW = Window.orderBy("cp_idx").rowsBetween(Window.unboundedPreceding, 0)
    val moments = pts
      .withColumn("sx", sum("x").over(cumW))
      .withColumn("sy", sum("y").over(cumW))
      .withColumn("sxy", sum(expr("x * y")).over(cumW))
      .withColumn("sxx", sum(expr("x * x")).over(cumW))
      .filter(col("cp_idx") === 10)
      .select(
        expr("round((10.0 * sxy - sx * sy) / (10.0 * sxx - sx * sx), 6)").as("beta"),
        expr("round(exp((sy - (10.0 * sxy - sx * sy) / (10.0 * sxx - sx * sx) * sx) / 10.0), 6)")
          .as("k"))
    pts.select("cp_idx", "cp", "n_tokens", "vocab").crossJoin(broadcast(moments))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_heaps" -> (qHeaps _))

  val oracleSql: Map[String, String] = Map(
    "text_heaps" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |      w -> length(w) > 0)) AS word
        |  FROM documents),
        |dt AS (SELECT doc_id, count(*) AS toks FROM words GROUP BY 1),
        |fd AS (SELECT word, min(doc_id) AS fdoc FROM words GROUP BY 1),
        |mx AS (SELECT max(doc_id) AS maxd FROM documents),
        |cps AS (SELECT CAST(range AS BIGINT) AS cp_idx,
        |    CAST(range AS BIGINT) * maxd // 10 AS cp
        |  FROM range(1, 11) CROSS JOIN mx),
        |n AS (SELECT cp_idx, cp, sum(toks) AS n_tokens
        |  FROM dt JOIN cps ON doc_id <= cp GROUP BY 1, 2),
        |v AS (SELECT cp_idx, count(*) AS vocab
        |  FROM fd JOIN cps ON fdoc <= cp GROUP BY 1),
        |pts AS (SELECT n.cp_idx, cp, n_tokens, vocab,
        |    ln(CAST(n_tokens AS DOUBLE)) AS x,
        |    ln(CAST(vocab AS DOUBLE)) AS y
        |  FROM n JOIN v ON n.cp_idx = v.cp_idx),
        |m AS (SELECT cp_idx,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
        |  FROM pts
        |  WINDOW w AS (ORDER BY cp_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |fit AS (SELECT
        |    round((10.0 * sxy - sx * sy) / (10.0 * sxx - sx * sx), 6) AS beta,
        |    round(exp((sy - (10.0 * sxy - sx * sy) / (10.0 * sxx - sx * sx) * sx)
        |          / 10.0), 6) AS k
        |  FROM m WHERE cp_idx = 10)
        |SELECT cp_idx, cp, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(vocab AS BIGINT) AS vocab, beta, k
        |FROM pts CROSS JOIN fit""".stripMargin)
}
