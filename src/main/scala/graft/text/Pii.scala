package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Exact

/** Structured PII detection + redaction — the corpus-release gate
  * beyond the scrub stage's blanket long-number rule: phone numbers,
  * IPv4 addresses, email addresses, and credit-card numbers validated
  * by the Luhn checksum (a bare 16-digit run is only PII if the check
  * digit holds — the standard false-positive filter, and integer-exact
  * cross-engine).
  *
  * The synthetic documents corpus contains no digits at all, so —
  * exactly like the multimodal family's deterministic fake codecs —
  * the detectors run over an AUGMENTED corpus: every document gets one
  * deterministic doc_id-derived contact span appended (doc_id%5 picks
  * phone / IPv4 / Luhn-VALID card / Luhn-INVALID card / email). The
  * injection
  * is integer arithmetic mirrored in the oracle, the invalid-card arm
  * proves the Luhn filter actually rejects, and the report's residual
  * column re-runs every detector on the REDACTED text (the round-trip
  * proof that scrubbing removed what detection found).
  *
  * Scale shape: one pass over documents, all per-row work (regex
  * extraction, Luhn folds over <=16-element digit lists) inside
  * whole-stage codegen HOFs; the report is a single groupBy(source).
  * No shuffle besides the final per-source aggregate. */
object Pii extends graft.Registry {

  // RE2 (DuckDB) and java.util.regex read these identically: no
  // lookaround, no backrefs, \b over digit/word boundaries only.
  private val PHONE_RE = """\(\d{3}\) \d{3}-\d{4}"""
  private val IP_RE = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val CC_RE = """\b\d{16}\b"""
  private val EMAIL_RE = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""

  /** Luhn sum of a FIXED-LENGTH digit string as a SQL expression over
    * Spark's HOFs: from the RIGHT, every second digit doubles (minus 9
    * past 9). For a 16-digit candidate the doubled positions are the
    * ODD 1-based offsets from the left; for the 15-digit payload at
    * injection time the check digit occupies the rightmost slot, so a
    * payload digit at left offset i sits at r = 17-i from the right —
    * doubled when r is even, i.e. the ODD left offsets again. */
  private def luhnSumSql(s: String, len: Int, doubledParity: Int): String =
    s"""aggregate(transform(sequence(1, $len),
       |  i -> CASE WHEN i % 2 = $doubledParity
       |       THEN IF(2 * CAST(substr($s, i, 1) AS INT) > 9,
       |               2 * CAST(substr($s, i, 1) AS INT) - 9,
       |               2 * CAST(substr($s, i, 1) AS INT))
       |       ELSE CAST(substr($s, i, 1) AS INT) END),
       |0, (a, x) -> a + x)""".stripMargin

  /** documents + one injected PII span, plus raw/redacted detection
    * counts per doc. */
  private def detected(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("cc15",
        concat(lit("411111"),
          lpad((col("doc_id") % 1000000000L).cast("string"), 9, "0")))
      .withColumn("chk",
        expr(s"(10 - ${luhnSumSql("cc15", 15, 1)} % 10) % 10"))
      .withColumn("aug", concat(col("text"), lit(" "),
        expr("""CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN concat('(415) 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
          WHEN 1 THEN concat('10.', CAST(doc_id % 256 AS STRING), '.',
                             CAST((doc_id div 7) % 256 AS STRING), '.42')
          WHEN 2 THEN concat(cc15, CAST(chk AS STRING))
          WHEN 3 THEN concat(cc15, CAST((chk + 5) % 10 AS STRING))
          ELSE concat('user', CAST(doc_id AS STRING), '@example.com') END""")))
      .transform(detectorsOf)

  /** The detector/redactor stage over any frame with an `aug` text
    * column — separated from the corpus injection so specs can run it
    * on crafted PII. */
  private[text] def detectorsOf(df: DataFrame): DataFrame =
    df
      .withColumn("phones", expr(s"regexp_extract_all(aug, '${sqlRe(PHONE_RE)}', 0)"))
      .withColumn("ips", expr(s"regexp_extract_all(aug, '${sqlRe(IP_RE)}', 0)"))
      .withColumn("ccs", expr(s"regexp_extract_all(aug, '${sqlRe(CC_RE)}', 0)"))
      .withColumn("emails", expr(s"regexp_extract_all(aug, '${sqlRe(EMAIL_RE)}', 0)"))
      .withColumn("cc_valid",
        expr(s"size(filter(ccs, c -> ${luhnSumSql("c", 16, 1)} % 10 = 0))"))
      // redaction: cards first (the longest digit runs), then phones,
      // then addresses — same fixed order in the oracle
      .withColumn("scrubbed", scrub(col("aug")))
      .withColumn("residual",
        expr(s"size(regexp_extract_all(scrubbed, '${sqlRe(PHONE_RE)}', 0))") +
          expr(s"size(regexp_extract_all(scrubbed, '${sqlRe(IP_RE)}', 0))") +
          expr(s"size(regexp_extract_all(scrubbed, '${sqlRe(CC_RE)}', 0))") +
          expr(s"size(regexp_extract_all(scrubbed, '${sqlRe(EMAIL_RE)}', 0))"))

  /** Spark SQL string literals escape-process backslashes; double them
    * so the regex survives the parse. */
  private def sqlRe(re: String): String = re.replace("\\", "\\\\")

  /** The redaction column alone — a stateless per-row transform, so it
    * composes anywhere (the streaming front door scrubs with exactly
    * this before content hashing). Cards first (the longest digit
    * runs), then phones, then addresses. */
  private[graft] def scrub(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(c,
      CC_RE, "[CC]"), PHONE_RE, "[PHONE]"), IP_RE, "[IP]"), EMAIL_RE, "[EMAIL]")

  /** Per-source PII census: hit counts by detector, Luhn-rejected card
    * candidates, the per-source PII document rate, and the residual
    * detector hits on the redacted text (0 = scrub verified). */
  def qPiiReport(spark: SparkSession, dir: String): DataFrame =
    detected(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(size(col("phones"))).as("phone_hits"),
        sum(size(col("ips"))).as("ip_hits"),
        sum(size(col("ccs"))).as("cc_candidates"),
        sum(col("cc_valid")).as("cc_valid"),
        sum(size(col("emails"))).as("email_hits"),
        sum(when(size(col("phones")) + size(col("ips")) + size(col("emails"))
          + col("cc_valid") > 0, 1L).otherwise(0L)).as("pii_docs"),
        sum(col("residual")).as("residual_hits"))
      .withColumn("pii_rate", expr(Exact.rate6("pii_docs", "docs")))

  /** The redacted corpus itself — the scrub variant as a first-class
    * surface (exact string compare against the oracle's redaction). */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame =
    detected(spark, dir).select(col("doc_id"), col("scrubbed"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_pii_report" -> (qPiiReport _),
    "text_pii_scrub" -> (qPiiScrub _))

  /** DuckDB mirror of the injection + detectors. RE2 string literals
    * take the regex verbatim (no escape processing in single quotes);
    * regexp_replace needs the explicit 'g' flag (Spark is global by
    * default). */
  private def luhnSumDuck(s: String, len: Int, doubledParity: Int): String =
    s"""list_sum(list_transform(range(1, ${len + 1}),
       |  i -> CASE WHEN i % 2 = $doubledParity
       |       THEN CASE WHEN 2 * CAST(substr($s, CAST(i AS INT), 1) AS INT) > 9
       |            THEN 2 * CAST(substr($s, CAST(i AS INT), 1) AS INT) - 9
       |            ELSE 2 * CAST(substr($s, CAST(i AS INT), 1) AS INT) END
       |       ELSE CAST(substr($s, CAST(i AS INT), 1) AS INT) END))""".stripMargin

  private val detectedSql =
    s"""base AS (SELECT doc_id, source,
       |    '411111' || lpad(CAST(doc_id % 1000000000 AS VARCHAR), 9, '0') AS cc15,
       |    text
       |  FROM documents),
       |chk AS (SELECT *,
       |    (10 - ${luhnSumDuck("cc15", 15, 1)} % 10) % 10 AS chk
       |  FROM base),
       |aug AS MATERIALIZED (SELECT doc_id, source,
       |    text || ' ' || CASE CAST(doc_id % 5 AS INT)
       |      WHEN 0 THEN '(415) 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |      WHEN 1 THEN '10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
       |                  CAST((doc_id // 7) % 256 AS VARCHAR) || '.42'
       |      WHEN 2 THEN cc15 || CAST(chk AS VARCHAR)
       |      WHEN 3 THEN cc15 || CAST((chk + 5) % 10 AS VARCHAR)
       |      ELSE 'user' || CAST(doc_id AS VARCHAR) || '@example.com' END AS aug
       |  FROM chk),
       |det AS (SELECT doc_id, source,
       |    regexp_extract_all(aug, '$PHONE_RE') AS phones,
       |    regexp_extract_all(aug, '$IP_RE') AS ips,
       |    regexp_extract_all(aug, '$CC_RE') AS ccs,
       |    regexp_extract_all(aug, '$EMAIL_RE') AS emails,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(aug,
       |      '$CC_RE', '[CC]', 'g'), '$PHONE_RE', '[PHONE]', 'g'),
       |      '$IP_RE', '[IP]', 'g'), '$EMAIL_RE', '[EMAIL]', 'g') AS scrubbed
       |  FROM aug),
       |scored AS (SELECT doc_id, source, phones, ips, ccs, emails, scrubbed,
       |    len(list_filter(ccs, c -> ${luhnSumDuck("c", 16, 1)} % 10 = 0)) AS cc_valid,
       |    len(regexp_extract_all(scrubbed, '$PHONE_RE'))
       |      + len(regexp_extract_all(scrubbed, '$IP_RE'))
       |      + len(regexp_extract_all(scrubbed, '$CC_RE'))
       |      + len(regexp_extract_all(scrubbed, '$EMAIL_RE')) AS residual
       |  FROM det)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_pii_report" ->
      s"""WITH $detectedSql
         |SELECT source,
         |  count(*) AS docs,
         |  CAST(sum(len(phones)) AS BIGINT) AS phone_hits,
         |  CAST(sum(len(ips)) AS BIGINT) AS ip_hits,
         |  CAST(sum(len(ccs)) AS BIGINT) AS cc_candidates,
         |  CAST(sum(cc_valid) AS BIGINT) AS cc_valid,
         |  CAST(sum(len(emails)) AS BIGINT) AS email_hits,
         |  CAST(sum(CASE WHEN len(phones) + len(ips) + len(emails) + cc_valid > 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
         |  CAST(sum(residual) AS BIGINT) AS residual_hits,
         |  ${graft.functions.Exact.duck6(
             """sum(CASE WHEN len(phones) + len(ips) + len(emails) + cc_valid > 0
               |             THEN 1 ELSE 0 END)""".stripMargin, "count(*)")} AS pii_rate
         |FROM scored GROUP BY source""".stripMargin,
    "text_pii_scrub" ->
      s"""WITH $detectedSql
         |SELECT doc_id, scrubbed FROM scored""".stripMargin)
}
