package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Training-record assembly: the last mile where cleaned corpus parts
  * become model-ready rows.
  *
  * - `events_sequences`: per-user temporally-ordered event sequences —
  *   the training rows of any sequential/next-event model. One shuffle
  *   on user_id; the per-user sort happens inside the aggregated array
  *   (array_sort on (ts, event_id, type) structs), never as a global
  *   sort. Emitted as a joined string so the cross-engine compare is a
  *   scalar.
  * - `pipeline_assemble`: documents joined with their embedding row
  *   and media format into one multimodal training record — the
  *   co-partitioned equi-join on the shared id (doc_id = vec_id).
  *   At 100 TB both sides bucket on that id and the join is
  *   shuffle-free; here Catalyst picks the join strategy.
  */
object Assembly extends graft.Registry {

  def qEventSequences(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        array_join(
          expr("transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"),
          " ").as("seq"))

  def qAssemble(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), size(col("embedding")).as("emb_dim"), col("label"))
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(
        col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("ppm"))
          .otherwise(lit("bmp")).as("format"),
        col("emb_dim").cast("long"), col("label").cast("long"))
  }

  /** Release-shard manifest: hash-assign every document to one of 16
    * output shards and fingerprint each shard's content — the
    * manifest a reproducible dataset release ships (the "data card +
    * checksums" file): a consumer re-running the pipeline verifies
    * shard_hash equality instead of diffing terabytes. The per-shard
    * fingerprint is md5 over the members' content hashes in doc_id
    * order, so it pins membership AND content. One shuffle on the
    * shard key; each shard's digest folds inside its own group (the
    * same sorted-struct collect the sequence assembler uses — at
    * 100 TB the per-shard member list is the manifest's natural
    * size, 1/16th of the id space). */
  def qShardManifest(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), graft.dedup.Dedup.contentHash(col("text")).as("h"), col("n_chars"))
      .withColumn("shard", pmod(col("doc_id"), lit(16)).cast("int"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        md5(expr(
          "array_join(transform(array_sort(collect_list(struct(doc_id, h))), x -> x.h), '')"))
          .as("shard_hash"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_sequences" -> (qEventSequences _),
    "pipeline_shard_manifest" -> (qShardManifest _),
    "pipeline_assemble" -> (qAssemble _))

  val oracleSql: Map[String, String] = Map(
    "pipeline_shard_manifest" ->
      s"""SELECT CAST(doc_id % 16 AS INT) AS shard, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  md5(string_agg(${graft.dedup.Dedup.contentHashSql("text")}, '' ORDER BY doc_id)) AS shard_hash
         |FROM documents GROUP BY 1""".stripMargin,
    "events_sequences" ->
      """SELECT user_id, count(*) AS n_events,
        |  string_agg(event_type, ' '
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
        |FROM events GROUP BY user_id""".stripMargin,
    "pipeline_assemble" ->
      """SELECT doc_id, lang, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS format,
        |  CAST(len(embedding) AS BIGINT) AS emb_dim,
        |  CAST(label AS BIGINT) AS label
        |FROM documents JOIN embeddings ON doc_id = vec_id""".stripMargin)
}
