package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Encoding-damage QC report — the mojibake census a web-scale corpus
  * runs before training (the public CCNet/C4-era cleaning literature's
  * encoding checks): U+FFFD replacement characters (decoder already
  * gave up), UTF-8-read-as-Latin-1 digraphs ('Ã'/'Â' artifacts — the
  * classic double-encoding signature), C1 control characters (NEL —
  * Latin-1 smuggled into UTF-8 text), and stray byte-order marks
  * (U+FEFF mid-document — concatenated-file residue).
  *
  * The synthetic corpus is clean ASCII, so — exactly like the PII
  * suite's injected spans (Pii.scala) and the C4 bundle's built pages
  * (C4Rules.scala) — each doc first receives a deterministic
  * doc_id%6-derived damage arm (clean / U+FFFD / 'Ã©' / NEL / BOM /
  * 'Â'+NBSP), and the DETECTORS then run only on the damaged text, so
  * the per-source report measures real detector work against known
  * ground truth. All detectors are engine-agnostic substring checks on
  * explicit codepoints (no regex class whose unicode semantics could
  * differ); every output is an INT-EXACT counter.
  *
  * Scale shape: injection + detection are per-row codegen string ops
  * (one corpus pass); the only shuffle is the bounded per-source
  * rollup. */
object Encoding extends graft.Registry {

  private val FFFD = "\uFFFD" // replacement character
  private val MOJI = "\u00C3\u00A9" // 'Ã©' = UTF-8 'é' read as Latin-1
  private val NEL = "\u0085" // C1 next-line control
  private val BOM = "\uFEFF" // byte-order mark mid-text
  private val ANBSP = "\u00C2\u00A0" // 'Â '+NBSP = UTF-8 NBSP read as Latin-1

  /** Injects the deterministic damage arm, then detects and rolls up
    * per source. */
  private[text] def encodingReportOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("damaged", expr(
        s"""CASE CAST(doc_id % 6 AS INT)
           |  WHEN 1 THEN concat(text, '$FFFD')
           |  WHEN 2 THEN concat(text, ' caf$MOJI')
           |  WHEN 3 THEN concat(text, '${NEL}next')
           |  WHEN 4 THEN concat(substring(text, 1, 8), '$BOM', substring(text, 9))
           |  WHEN 5 THEN concat(text, '$ANBSP')
           |  ELSE text END""".stripMargin))
      // ---- detectors run ONLY on the damaged text from here on ----
      .withColumn("has_replacement", col("damaged").contains(FFFD))
      .withColumn("has_mojibake",
        col("damaged").contains("\u00C3") || col("damaged").contains("\u00C2"))
      .withColumn("has_c1", col("damaged").contains(NEL))
      .withColumn("has_bom", col("damaged").contains(BOM))
      .withColumn("clean",
        !col("has_replacement") && !col("has_mojibake") && !col("has_c1")
          && !col("has_bom"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("has_replacement"), 1L).otherwise(0L)).as("n_replacement"),
        sum(when(col("has_mojibake"), 1L).otherwise(0L)).as("n_mojibake"),
        sum(when(col("has_c1"), 1L).otherwise(0L)).as("n_c1"),
        sum(when(col("has_bom"), 1L).otherwise(0L)).as("n_bom"),
        sum(when(col("clean"), 1L).otherwise(0L)).as("n_clean"))

  def qEncodingReport(spark: SparkSession, dir: String): DataFrame =
    encodingReportOf(t(spark, dir, "documents"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_encoding_report" -> (qEncodingReport _))

  val oracleSql: Map[String, String] = Map(
    "text_encoding_report" ->
      """WITH dmg AS (
        |  SELECT source,
        |    CASE CAST(doc_id % 6 AS INT)
        |      WHEN 1 THEN text || chr(65533)
        |      WHEN 2 THEN text || ' caf' || chr(195) || chr(169)
        |      WHEN 3 THEN text || chr(133) || 'next'
        |      WHEN 4 THEN substring(text, 1, 8) || chr(65279) || substring(text, 9)
        |      WHEN 5 THEN text || chr(194) || chr(160)
        |      ELSE text END AS damaged
        |  FROM documents),
        |det AS (
        |  SELECT source,
        |    contains(damaged, chr(65533)) AS has_replacement,
        |    (contains(damaged, chr(195)) OR contains(damaged, chr(194))) AS has_mojibake,
        |    contains(damaged, chr(133)) AS has_c1,
        |    contains(damaged, chr(65279)) AS has_bom
        |  FROM dmg)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN has_replacement THEN 1 ELSE 0 END) AS BIGINT) AS n_replacement,
        |  CAST(sum(CASE WHEN has_mojibake THEN 1 ELSE 0 END) AS BIGINT) AS n_mojibake,
        |  CAST(sum(CASE WHEN has_c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c1,
        |  CAST(sum(CASE WHEN has_bom THEN 1 ELSE 0 END) AS BIGINT) AS n_bom,
        |  CAST(sum(CASE WHEN NOT has_replacement AND NOT has_mojibake
        |    AND NOT has_c1 AND NOT has_bom THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        |FROM det GROUP BY source""".stripMargin)
}
