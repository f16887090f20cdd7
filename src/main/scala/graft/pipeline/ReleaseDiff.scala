package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Dataset release diff: the added / removed / changed / unchanged
  * census between two corpus snapshots — what a data-release manager
  * reads before shipping v(N+1), and the corpus-level complement to
  * the row-level SCD2/upsert operators. Snapshots are deterministic
  * views of the documents table (the standing injected-ground-truth
  * pattern): snapshot A = doc_id % 2 == 0, snapshot B = doc_id % 3 != 0,
  * and B rewrites the text of every doc_id % 7 == 0 (a marker append)
  * so the CHANGED arm measures real work.
  *
  * Determinism: membership is integer modular arithmetic; change
  * detection compares md5 content hashes (identical string surgery
  * both engines); all counts exact.
  *
  * Scale shape: one full-outer equi-join on doc_id (co-partitioned
  * hash shuffle both sides), then a source-bounded rollup. */
object ReleaseDiff extends graft.Registry {

  def qReleaseDiff(spark: SparkSession, dir: String): DataFrame =
    releaseDiffOf(t(spark, dir, "documents").select("doc_id", "text", "source"))

  /** [[qReleaseDiff]] over any (doc_id, text, source) frame. */
  private[pipeline] def releaseDiffOf(docs: DataFrame): DataFrame = {
    val a = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("source"), md5(col("text")).as("ha"))
    val b = docs.filter(col("doc_id") % 3 =!= 0)
      .withColumn("text2",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [v2]")))
          .otherwise(col("text")))
      .select(col("doc_id"), col("source").as("source_b"), md5(col("text2")).as("hb"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("src", coalesce(col("source"), col("source_b")))
      .withColumn("arm", expr(
        """CASE WHEN ha IS NULL THEN 'added'
          |     WHEN hb IS NULL THEN 'removed'
          |     WHEN ha = hb THEN 'unchanged'
          |     ELSE 'changed' END""".stripMargin))
      .groupBy("src")
      .agg(sum(when(col("arm") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("arm") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("arm") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("arm") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .withColumnRenamed("src", "source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_release_diff" -> (qReleaseDiff _))

  val oracleSql: Map[String, String] = Map(
    "pipeline_release_diff" ->
      """WITH a AS (
        |  SELECT doc_id, source, md5(text) AS ha
        |  FROM documents WHERE doc_id % 2 = 0),
        |b AS (
        |  SELECT doc_id, source AS source_b,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END) AS hb
        |  FROM documents WHERE doc_id % 3 <> 0),
        |j AS (
        |  SELECT coalesce(a.source, b.source_b) AS source,
        |    CASE WHEN ha IS NULL THEN 'added'
        |         WHEN hb IS NULL THEN 'removed'
        |         WHEN ha = hb THEN 'unchanged'
        |         ELSE 'changed' END AS arm
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT source,
        |  CAST(sum(CASE WHEN arm = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN arm = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN arm = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN arm = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM j GROUP BY source""".stripMargin)
}
