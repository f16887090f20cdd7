package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.dedup.Dedup

/** End-to-end corpus-cleaning pipeline — the composition a training-
  * data run would execute, built entirely from this library's
  * operators:
  *
  *   1. exact dedup (keep lowest doc_id per content hash),
  *   2. near-dup removal (drop every LSH candidate with word-set
  *      Jaccard >= 0.8 against its bucket keeper),
  *   3. quality gate (length + stopword-density bounds),
  *   4. emit id, token count and predicted language.
  *
  * Fully deterministic, so the whole composition is oracled in SQL.
  */
object CleanCorpus extends graft.Registry {

  /** DataFrame-parametric core over ANY (doc_id, text) corpus — the
    * same chain runs on the testdata documents table or a JSONL ingest
    * (graft.Main clean). `cands` lets a dir-based caller pass the
    * STAGED candidate edges so the LSH chain isn't re-derived here. */
  def cleanOf(rawDocs: DataFrame,
              cands: Option[DataFrame] = None): DataFrame = {
    val docs = rawDocs.withColumn("ws", split(col("text"), " "))

    // 1. exact dedup: keep the lowest doc_id of each identical text
    val keepExact = docs
      .groupBy(Dedup.contentHash(col("text")).as("h")).agg(min("doc_id").as("doc_id"))
      .select("doc_id")

    // 2. near-dup: drop LSH candidates too similar to their keeper
    val pairs = cands match {
      case Some(c) => Dedup.minhashLshFrom(rawDocs, c)
      case None => Dedup.minhashLshOf(rawDocs)
    }
    val nearDupIds = pairs.select(col("ib").as("doc_id")).distinct()

    docs
      .join(keepExact, "doc_id")
      .join(nearDupIds, Seq("doc_id"), "left_anti")
      // 3. quality gate
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("stop_ratio",
        expr("size(filter(ws, w -> array_contains(array('the', 'and', 'of', 'to', 'in', 'is'), w)))")
          .cast("double") / col("n_words"))
      .filter(col("n_words") >= 20 && col("stop_ratio") <= 0.5)
      // 4. emit
      .select(col("doc_id"), col("n_words"),
        round(col("stop_ratio"), 6).as("stop_ratio"))
  }

  def qClean(spark: SparkSession, dir: String): DataFrame =
    cleanOf(t(spark, dir, "documents"),
      Some(Dedup.stagedCandidates(spark, dir)))

  /** The full gate stack: everything qClean does PLUS the repetition/
    * degeneracy gates (#46) — the composition a production run ships.
    * The repetition metrics are per-row HOFs, so the extra gate adds
    * no shuffle; it joins on doc_id against the same corpus scan. */
  def qCleanFull(spark: SparkSession, dir: String): DataFrame = {
    val repKeep = graft.text.Repetition.qRepetition(spark, dir)
      .filter(col("keep")).select("doc_id")
    // broadcast the (small) surviving-id set: without the hint the
    // planner shuffles BOTH sides of the final join on doc_id, and the
    // left side is the entire clean chain
    qClean(spark, dir).join(broadcast(repKeep), "doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_clean_corpus" -> (qClean _),
    "pipeline_clean_corpus_full" -> (qCleanFull _))

  val oracleSql: Map[String, String] = Map(
    "pipeline_clean_corpus" -> {
      // reuse the dedup oracle's CTE chain for the near-dup set
      val lsh = Dedup.oracleSql("dedup_minhash_lsh")
      s"""WITH near AS ($lsh),
         |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY ${Dedup.contentHashSql("text")}),
         |q AS (
         |  SELECT doc_id, ws,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(ws, w -> list_contains(['the', 'and', 'of', 'to', 'in', 'is'], w))) AS DOUBLE)
         |      / len(ws) AS stop_ratio
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
         |SELECT doc_id, n_words, round(stop_ratio, 6) AS stop_ratio
         |FROM q
         |WHERE doc_id IN (SELECT doc_id FROM keep)
         |  AND doc_id NOT IN (SELECT DISTINCT ib FROM near)
         |  AND n_words >= 20 AND stop_ratio <= 0.5""".stripMargin
    },
    "pipeline_clean_corpus_full" -> {
      val lsh = Dedup.oracleSql("dedup_minhash_lsh")
      val rep = graft.text.Repetition.oracleSql("text_repetition")
      s"""WITH near AS ($lsh),
         |rep AS ($rep),
         |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY ${Dedup.contentHashSql("text")}),
         |q AS (
         |  SELECT doc_id, ws,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(ws, w -> list_contains(['the', 'and', 'of', 'to', 'in', 'is'], w))) AS DOUBLE)
         |      / len(ws) AS stop_ratio
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
         |SELECT doc_id, n_words, round(stop_ratio, 6) AS stop_ratio
         |FROM q
         |WHERE doc_id IN (SELECT doc_id FROM keep)
         |  AND doc_id NOT IN (SELECT DISTINCT ib FROM near)
         |  AND doc_id IN (SELECT doc_id FROM rep WHERE keep)
         |  AND n_words >= 20 AND stop_ratio <= 0.5""".stripMargin
    })
}
