package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting" — the
  * MOSS algorithm): hash every character k-gram, slide a window of w
  * consecutive hashes, and keep each window's MINIMUM (rightmost on
  * ties — the paper's rule). The guarantee: any shared substring of
  * length >= k + w - 1 contributes at least one IDENTICAL selected
  * fingerprint in both documents, at an expected density of 2/(w+1) —
  * the local, position-robust complement to the whole-document rolling
  * hash (#text_rolling_hash) and the shingle MinHash family.
  *
  * Determinism: everything is exact integer arithmetic — the k-gram
  * hash is the repo's standard 31-poly mod 1e9+7 fold, and the
  * rightmost-min selection packs (hash, position) into ONE BIGINT
  * (hash * 2^21 + (2^21-1 - pos), injective for pos < 2^21) so the
  * window minimum IS the tie rule, with no struct fold to mirror.
  * Selected-set distinctness dedupes overlapping windows that pick the
  * same position (the paper's expected behavior). Density is an exact
  * integer HALF_UP division; the checksum is an exact integer sum of
  * selected hashes (< n * 2^30 — overflow-free).
  *
  * Scale shape: one HOF projection per document, zero shuffle before
  * the per-doc output (embarrassingly parallel — the 100 TB shape). */
object Winnowing extends graft.Registry {

  private val K = 5  // k-gram length
  private val W = 4  // window of consecutive k-gram hashes

  private val PACK = 1L << 21

  def qWinnowing(spark: SparkSession, dir: String): DataFrame =
    winnowingOf(t(spark, dir, "documents"))

  /** Winnowing over any (doc_id, text) frame; documents shorter than
    * k + w - 1 chars yield zero fingerprints (empty selected set).
    *
    * The k-gram hash array is LET-BOUND via `transform(array(<hs>),
    * hs -> ...)[1]` before the window pass indexes into it: Spark's
    * CollapseProject would otherwise inline the array-building
    * expression into the window lambda, re-deriving the FULL hash
    * array for every element_at — an O(n^2 k) blowup per document
    * (observed: minutes instead of milliseconds at sf0.01). A lambda
    * variable is evaluated once per row, restoring O(n (k + w)). */
  private[text] def winnowingOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_kgrams",
        greatest(lit(0L), (length(col("text")) - (K - 1)).cast("long")))
      .withColumn("sel", expr(
        s"""CASE WHEN n_kgrams >= $W THEN
           |  element_at(transform(array(
           |    transform(sequence(1, CAST(n_kgrams AS INT)), i ->
           |      aggregate(transform(sequence(i, i + ${K - 1}),
           |          j -> CAST(ascii(substring(text, j, 1)) AS BIGINT)),
           |        CAST(0 AS BIGINT), (h, c) -> (h * 31 + c) % 1000000007))),
           |    hs -> array_distinct(
           |      transform(sequence(1, CAST(n_kgrams - ${W - 1} AS INT)), s ->
           |        array_min(transform(sequence(s, s + ${W - 1}),
           |          j -> element_at(hs, j) * $PACK + (${PACK - 1} - j)))))), 1)
           |ELSE array() END""".stripMargin))
      .select(
        col("doc_id"),
        col("n_kgrams"),
        size(col("sel")).cast("long").as("n_selected"),
        // size() is IntegerType: widen BEFORE the *1e6 multiply — in
        // 32-bit the numerator wraps past ~1073 selected fingerprints
        // (~2.7k chars at 2/(w+1) density) while the HUGEINT oracle
        // doesn't (advice r13).
        expr(s"""CASE WHEN n_kgrams >= 1 THEN
                |  CAST((2 * CAST(size(sel) AS BIGINT) * 1000000 + n_kgrams)
                |       DIV (2 * n_kgrams) AS DOUBLE) / 1000000.0
                |ELSE 0.0 END""".stripMargin).as("density"),
        expr(s"aggregate(sel, CAST(0 AS BIGINT), (a, x) -> a + (x DIV $PACK))")
          .as("checksum"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_winnowing" -> (qWinnowing _))

  val oracleSql: Map[String, String] = Map(
    "text_winnowing" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    greatest(0, length(text) - ${K - 1}) AS n_kgrams,
         |    CASE WHEN length(text) >= $K THEN
         |      list_transform(range(1, length(text) - ${K - 1} + 1), i ->
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            list_transform(range(i, i + $K),
         |              j -> CAST(ascii(substring(text, CAST(j AS INT), 1)) AS BIGINT))),
         |          (h, c) -> (h * 31 + c) % 1000000007))
         |    ELSE [] END AS hs
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, n_kgrams,
         |    CASE WHEN n_kgrams >= $W THEN
         |      list_distinct(list_transform(range(1, n_kgrams - ${W - 1} + 1), s ->
         |        list_min(list_transform(range(s, s + $W),
         |          j -> hs[CAST(j AS INT)] * $PACK + (${PACK - 1} - j)))))
         |    ELSE [] END AS sel
         |  FROM g)
         |SELECT doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
         |  CAST(len(sel) AS BIGINT) AS n_selected,
         |  CASE WHEN n_kgrams >= 1 THEN
         |    CAST((2 * CAST(len(sel) AS HUGEINT) * 1000000 + n_kgrams)
         |         // (2 * CAST(n_kgrams AS HUGEINT)) AS DOUBLE) / 1000000.0
         |  ELSE 0.0 END AS density,
         |  CAST(coalesce(list_sum(list_transform(sel, x -> x // $PACK)), 0) AS BIGINT)
         |    AS checksum
         |FROM s""".stripMargin)
}
