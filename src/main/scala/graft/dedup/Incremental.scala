package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.pipeline.Splits.nibbleHashSql

/** Incremental (batch-vs-corpus) deduplication — the daily-ingest
  * shape: a new batch of documents arrives and must be deduplicated
  * BOTH against the standing corpus and within itself, without ever
  * re-deduplicating the corpus.
  *
  * The standing corpus is represented by its distinct content-hash
  * set — exactly what a production pipeline keeps as its dedup index.
  * The batch joins that index on the hash key (co-partitioned
  * equi-join, corpus side never re-scanned beyond the index) and
  * resolves batch-internal duplicates with a per-hash min-id window.
  * Batch membership is the same deterministic md5-nibble gate the
  * split/sample/mix operators use (~10% of the corpus), so the whole
  * operator is rerun-stable and oracle-exact.
  *
  * At 100 TB: the index is (hash) only — 16 bytes a row, bucketable
  * on the hash key so tomorrow's batch joins without a corpus-side
  * shuffle; the batch-internal window shuffles just the batch.
  */
object Incremental extends graft.Registry {

  private val BATCH_BUCKET = 7 // gate % 10 == 7 -> ~10% "new batch"

  def qIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .withColumn("__b",
        expr(s"${nibbleHashSql("cast(doc_id as string)")} % 10") === BATCH_BUCKET)
      .withColumn("content_hash", Dedup.contentHash(col("text")))
    val corpusIndex = docs.filter(!col("__b"))
      .select("content_hash").distinct()
      .withColumn("in_corpus", lit(1))
    val batch = docs.filter(col("__b")).select("doc_id", "content_hash")
    val w = Window.partitionBy("content_hash")
    batch
      .withColumn("first_id", min("doc_id").over(w))
      .join(corpusIndex, Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"),
        when(col("in_corpus") === 1, lit("dup_of_corpus"))
          .when(col("doc_id") =!= col("first_id"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"))
  }

  /** Incremental NEAR-dup: the daily batch against the STANDING
    * corpus's minhash band index — the production shape for fuzzy
    * dedup at ingest. The standing index stores one KEEPER (min
    * doc_id) per (band, bh) bucket — exactly Dedup.candidates' star
    * shape, so a batch doc pairs with at most one standing
    * representative per band (raw batch-bands x standing-bands is
    * quadratic inside hot near-dup-family buckets — measured 7.3 s at
    * sf0.1 before the keeper index). Word-set Jaccard >= 0.8 against
    * the keeper confirms; the corpus is never re-paired with itself.
    * At 100 TB the keeper index is (band, bh, keeper_id) rows,
    * bucketable on the band key, so tomorrow's batch joins without a
    * corpus-side shuffle. */
  def qIncrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val gate =
      expr(s"${nibbleHashSql("cast(doc_id as string)")} % 10") === BATCH_BUCKET
    val docs = t(spark, dir, "documents").withColumn("__b", gate)
    val standing = docs.filter(!col("__b")).select("doc_id", "text")
    val batch = docs.filter(col("__b")).select("doc_id", "text")
    // signatures ride the STAGED per-(JVM, dir) sketch table — the
    // stored-at-ingest index every signature consumer shares — split
    // by the same doc_id gate; before this the operator re-ran the
    // H-hash fold over BOTH corpus halves per invocation (the whole
    // corpus, one MinHash pass each side)
    val sig = Dedup.stagedSignatures(spark, dir).withColumn("__b", gate)
    val standingIndex = Dedup.bands(sig.filter(!col("__b")))
      .groupBy("band", "bh").agg(min("doc_id").as("corpus_id"))
    val batchBands = Dedup.bands(sig.filter(col("__b")))
    val cand = batchBands.join(standingIndex, Seq("band", "bh"))
      .select(col("doc_id").as("batch_id"), col("corpus_id")).distinct()
    val ws = (d: DataFrame, id: String, out: String) =>
      d.select(col("doc_id").as(id), array_distinct(split(
        graft.text.TextAnalysis.normalizeUnicode(col("text")), " ")).as(out))
    cand
      .join(ws(batch, "batch_id", "wa"), "batch_id")
      .join(ws(standing, "corpus_id", "wb"), "corpus_id")
      .withColumn("__i", graft.functions.GraftFunctions.intersectSize(col("wa"), col("wb")))
      .withColumn("j",
        col("__i").cast("double") / (size(col("wa")) + size(col("wb")) - col("__i")))
      .filter(col("j") >= 0.8)
      // the ingest gate's verdict: one row per flagged batch doc (the
      // full pair set is batch-size x family-size and belongs to
      // forensics, not the gate)
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_corpus_matches"), max("j").as("best_j"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental" -> (qIncremental _),
    "dedup_incremental_neardup" -> (qIncrementalNearDup _))

  private val sigCols = (0 until Dedup.H).map(Dedup.mhSql).mkString(", ")

  val oracleSql: Map[String, String] = Map(
    "dedup_incremental_neardup" ->
      s"""WITH d AS (SELECT doc_id, text,
         |    ${nibbleHashSql("CAST(doc_id AS VARCHAR)")} % 10 = $BATCH_BUCKET AS b
         |  FROM documents),
         |sigb AS (SELECT doc_id, $sigCols FROM (SELECT doc_id, text FROM d WHERE b) documents),
         |sigs AS (SELECT doc_id, $sigCols FROM (SELECT doc_id, text FROM d WHERE NOT b) documents),
         |bb AS (${Dedup.bandsSqlFrom("sigb")}),
         |bs AS (${Dedup.bandsSqlFrom("sigs")}),
         |idx AS (SELECT band, bh, min(doc_id) AS corpus_id FROM bs GROUP BY band, bh),
         |cand AS (SELECT DISTINCT bb.doc_id AS batch_id, idx.corpus_id
         |  FROM bb JOIN idx ON bb.band = idx.band AND bb.bh = idx.bh),
         |w AS (SELECT doc_id, list_distinct(string_split(${Dedup.NT}, ' ')) AS ws FROM d)
         |SELECT batch_id, count(*) AS n_corpus_matches, max(j) AS best_j FROM (
         |  SELECT batch_id, corpus_id,
         |    CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
         |      / (len(wa.ws) + len(wb.ws) - len(list_intersect(wa.ws, wb.ws))) AS j
         |  FROM cand JOIN w wa ON batch_id = wa.doc_id JOIN w wb ON corpus_id = wb.doc_id)
         |WHERE j >= 0.8
         |GROUP BY batch_id""".stripMargin,
    "dedup_incremental" ->
      s"""WITH d AS (SELECT doc_id, ${Dedup.contentHashSql("text")} AS content_hash,
         |    ${nibbleHashSql("CAST(doc_id AS VARCHAR)")} % 10 = $BATCH_BUCKET AS b
         |  FROM documents),
         |idx AS (SELECT DISTINCT content_hash FROM d WHERE NOT b),
         |batch AS (SELECT doc_id, content_hash,
         |    min(doc_id) OVER (PARTITION BY content_hash) AS first_id
         |  FROM d WHERE b)
         |SELECT batch.doc_id, batch.content_hash,
         |  CASE WHEN idx.content_hash IS NOT NULL THEN 'dup_of_corpus'
         |       WHEN batch.doc_id <> batch.first_id THEN 'dup_in_batch'
         |       ELSE 'new' END AS status
         |FROM batch LEFT JOIN idx USING (content_hash)""".stripMargin)
}
