package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Deletion-request propagation — the right-to-be-forgotten primitive
  * a standing training corpus owes its sources: given a deletion set
  * (deterministic doc_id%13==0 requests, the Pii.scala injection
  * pattern), remove those documents from the corpus AND propagate the
  * removal through the standing exact-dedup index, where a deleted
  * KEEPER must hand its content-hash entry to the smallest surviving
  * owner (or the entry drops when every owner is deleted).
  *
  * Report: per-source corpus rows plus one dedup-index row, each with
  * INT-EXACT n_before / n_removed / n_reassigned / n_after and a
  * MEASURED n_residual — the count of deletion-set members still
  * reachable after propagation (corpus rows re-scan the survivor set;
  * the index row re-checks every post-delete keeper). Residuals must
  * read 0; a propagation bug (e.g. an index entry still keyed to a
  * deleted keeper) shows up as a nonzero residual, exactly like the
  * PII scrub's zero-residual round trip.
  *
  * Scale shape: the deletion set applies as one LEFT-ANTI join on the
  * corpus (no full-table rewrite); the index propagation is one
  * groupBy over the content-hash key with conditional min aggregates —
  * the same shuffle the standing index build already pays. */
object Forget extends graft.Registry {

  private[pipeline] def forgetOf(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), col("source"),
        graft.dedup.Dedup.contentHash(col("text")).as("content_hash"))
      .withColumn("deleted", col("doc_id") % 13 === 0)
    val delset = hashed.filter(col("deleted"))
      .select(col("doc_id").as("del_id"))
    // corpus removal: a real anti-join, then the residual re-scan on
    // its OUTPUT (not on the filter predicate that produced it)
    val survivors = hashed
      .join(delset, col("doc_id") === col("del_id"), "left_anti")
    val before = hashed.groupBy("source")
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("deleted"), 1L).otherwise(0L)).as("n_removed"))
    val after = survivors.groupBy("source")
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("doc_id") % 13 === 0, 1L).otherwise(0L)).as("n_residual"))
    val corpusRows = before.join(after, "source")
      .select(concat(lit("corpus:"), col("source")).as("structure"),
        col("n_before"), col("n_removed"),
        lit(0L).as("n_reassigned"), col("n_after"), col("n_residual"))
    // index propagation: keeper = min owner; deleted keepers hand off
    // to the smallest surviving owner, all-deleted entries drop
    val owners = hashed.groupBy("content_hash")
      .agg(min("doc_id").as("keeper_before"),
        min(when(!col("deleted"), col("doc_id"))).as("keeper_after"))
    val indexRow = owners.agg(
      count(lit(1)).as("n_before"),
      sum(when(col("keeper_after").isNull, 1L).otherwise(0L)).as("n_removed"),
      sum(when(col("keeper_before") % 13 === 0 && col("keeper_after").isNotNull, 1L)
        .otherwise(0L)).as("n_reassigned"),
      sum(when(col("keeper_after").isNotNull, 1L).otherwise(0L)).as("n_after"),
      sum(when(col("keeper_after").isNotNull && col("keeper_after") % 13 === 0, 1L)
        .otherwise(0L)).as("n_residual"))
      .select(lit("dedup_index").as("structure"), col("n_before"), col("n_removed"),
        col("n_reassigned"), col("n_after"), col("n_residual"))
    corpusRows.unionByName(indexRow)
  }

  def qForget(spark: SparkSession, dir: String): DataFrame =
    forgetOf(t(spark, dir, "documents"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_forget" -> (qForget _))

  val oracleSql: Map[String, String] = Map(
    "pipeline_forget" -> {
      val ch = graft.dedup.Dedup.contentHashSql("text")
      s"""WITH h AS (
         |  SELECT doc_id, source, $ch AS content_hash,
         |    doc_id % 13 = 0 AS deleted
         |  FROM documents),
         |surv AS (SELECT * FROM h WHERE NOT deleted),
         |corpus AS (
         |  SELECT 'corpus:' || b.source AS structure,
         |    b.n_before, b.n_removed, CAST(0 AS BIGINT) AS n_reassigned,
         |    a.n_after, a.n_residual
         |  FROM (SELECT source, count(*) AS n_before,
         |      CAST(sum(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         |    FROM h GROUP BY source) b
         |  JOIN (SELECT source, count(*) AS n_after,
         |      CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |        AS n_residual
         |    FROM surv GROUP BY source) a USING (source)),
         |own AS (
         |  SELECT content_hash, min(doc_id) AS keeper_before,
         |    min(CASE WHEN NOT deleted THEN doc_id END) AS keeper_after
         |  FROM h GROUP BY content_hash),
         |idx AS (
         |  SELECT 'dedup_index' AS structure,
         |    count(*) AS n_before,
         |    CAST(sum(CASE WHEN keeper_after IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_removed,
         |    CAST(sum(CASE WHEN keeper_before % 13 = 0 AND keeper_after IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_reassigned,
         |    CAST(sum(CASE WHEN keeper_after IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_after,
         |    CAST(sum(CASE WHEN keeper_after IS NOT NULL AND keeper_after % 13 = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_residual
         |  FROM own)
         |SELECT * FROM corpus UNION ALL SELECT * FROM idx""".stripMargin
    })
}
