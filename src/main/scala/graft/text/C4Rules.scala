package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** C4 cleaning-rule bundle (Raffel et al. 2020, "Exploring the Limits
  * of Transfer Learning..." §2.2 — the published C4 heuristics): keep
  * lines that end in terminal punctuation and have at least 5 words;
  * drop pages with fewer than 3 kept lines, pages containing
  * "lorem ipsum", and pages containing a curly brace.
  *
  * The synthetic corpus is a single punctuation-free line per doc, so —
  * exactly like the PII suite's injected spans (Pii.scala) — each doc
  * first gets a deterministic doc_id-derived PAGE STRUCTURE: words wrap
  * into lines of 4+doc_id%5 words, line j ends with '.' iff
  * (doc_id+j)%3 != 0, docs with doc_id%7==0 gain a lorem-ipsum line and
  * docs with doc_id%11==0 a curly-brace line. The RULES then run only
  * on the built page text (split lines / suffix / word-count /
  * substring checks), so the report measures real detector work with a
  * known ground truth.
  *
  * Scale shape: page build + rule evaluation are per-row codegen HOFs
  * (one corpus pass); the only shuffle is the per-source rollup. All
  * outputs are INT-EXACT counters. */
object C4Rules extends graft.Registry {

  /** Builds the deterministic page, applies the rule bundle, rolls up
    * per source. */
  private[text] def c4Of(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("k", (lit(4) + col("doc_id") % 5).cast("int"))
      .withColumn("nl", expr("CAST((size(ws) + k - 1) DIV k AS INT)"))
      .withColumn("lines", expr(
        """transform(sequence(0, nl - 1), j -> concat(
          |  array_join(slice(ws, CAST(j * k + 1 AS INT), k), ' '),
          |  IF((doc_id + j) % 3 != 0, '.', '')))""".stripMargin))
      .withColumn("lines", expr(
        "IF(doc_id % 7 = 0, concat(lines, array('lorem ipsum dolor')), lines)"))
      .withColumn("lines", expr(
        "IF(doc_id % 11 = 0, concat(lines, array('function() { return }')), lines)"))
      .withColumn("page", array_join(col("lines"), "\n"))
      // ---- rules run ONLY on the page text from here on ----
      .withColumn("plines", split(col("page"), "\n"))
      .withColumn("n_kept", expr(
        "size(filter(plines, l -> endswith(l, '.') AND size(split(l, ' ')) >= 5))"))
      .withColumn("has_lorem", col("page").contains("lorem ipsum"))
      .withColumn("has_brace", col("page").contains("{"))
      .withColumn("page_kept",
        col("n_kept") >= 3 && !col("has_lorem") && !col("has_brace"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("page_kept"), 1L).otherwise(0L)).as("n_pages_kept"),
        sum(size(col("plines")).cast("long")).as("n_lines"),
        sum(col("n_kept").cast("long")).as("n_lines_kept"),
        sum(when(col("has_lorem"), 1L).otherwise(0L)).as("n_lorem_pages"),
        sum(when(col("has_brace"), 1L).otherwise(0L)).as("n_brace_pages"))

  def qC4Rules(spark: SparkSession, dir: String): DataFrame =
    c4Of(t(spark, dir, "documents"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_c4_rules" -> (qC4Rules _))

  val oracleSql: Map[String, String] = Map(
    "text_c4_rules" ->
      """WITH w1 AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS ws,
        |    CAST(4 + doc_id % 5 AS INT) AS k
        |  FROM documents),
        |w2 AS (
        |  SELECT *, CAST((len(ws) + k - 1) // k AS INT) AS nl FROM w1),
        |w3 AS (
        |  SELECT doc_id, source,
        |    list_transform(range(0, nl), j ->
        |      array_to_string(ws[(j*k+1):(j*k+k)], ' ')
        |      || CASE WHEN (doc_id + j) % 3 <> 0 THEN '.' ELSE '' END) AS lines
        |  FROM w2),
        |w4 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN list_append(lines, 'lorem ipsum dolor') ELSE lines END AS lines
        |  FROM w3),
        |w5 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN list_append(lines, 'function() { return }') ELSE lines END AS lines
        |  FROM w4),
        |pg AS (
        |  SELECT doc_id, source, array_to_string(lines, chr(10)) AS page FROM w5),
        |ru AS (
        |  SELECT source,
        |    len(string_split(page, chr(10))) AS n_lines,
        |    len(list_filter(string_split(page, chr(10)),
        |      l -> suffix(l, '.') AND len(string_split(l, ' ')) >= 5)) AS n_kept,
        |    contains(page, 'lorem ipsum') AS has_lorem,
        |    contains(page, '{') AS has_brace
        |  FROM pg)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_kept >= 3 AND NOT has_lorem AND NOT has_brace
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pages_kept,
        |  CAST(sum(n_lines) AS BIGINT) AS n_lines,
        |  CAST(sum(n_kept) AS BIGINT) AS n_lines_kept,
        |  CAST(sum(CASE WHEN has_lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_lorem_pages,
        |  CAST(sum(CASE WHEN has_brace THEN 1 ELSE 0 END) AS BIGINT) AS n_brace_pages
        |FROM ru GROUP BY source""".stripMargin)
}
