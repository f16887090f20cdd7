package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Latest-wins upsert merge — the standing-corpus maintenance shape:
  * a daily updates batch lands against the accumulated corpus and each
  * key keeps its newest version (SCD type 1).
  *
  * Scale shape: union + ONE partial-aggregated shuffle on the key with
  * max_by picking the newest payload — no row_number window. max_by is
  * a typed-imperative aggregate, so Spark plans a SortAggregate (a
  * per-partition sort feeds partial_max_by BEFORE the Exchange — the
  * plan shows the history collapsing map-side); a window would instead
  * shuffle and sort EVERY version of every key.
  */
object Upsert extends graft.Registry {

  /** Merge `updates` into `standing`: per key, the row with the
    * greatest version wins. Payload columns are everything except the
    * key and version. */
  def merge(standing: DataFrame, updates: DataFrame,
            key: String, version: String): DataFrame = {
    val unioned = standing.unionByName(updates)
    val payload = unioned.columns.filterNot(c => c == key || c == version)
    unioned.groupBy(key)
      .agg(count(lit(1)).as("n_versions"),
        max(col(version)).as(version) +:
          payload.map(c => max_by(col(c), col(version)).as(c)): _*)
  }

  /** Driver query: the documents table is the standing corpus at
    * version 1; every doc_id divisible by 7 arrives revised in the
    * updates batch at version 2. Output carries the winning content
    * hash so the oracle compares payloads, not just versions. */
  def qUpsert(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val standing = docs.select(col("doc_id"), lit(1L).as("version"),
      graft.dedup.Dedup.contentHash(col("text")).as("content_hash"))
    val updates = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), lit(2L).as("version"),
        graft.dedup.Dedup.contentHash(concat(col("text"), lit(" [rev2]")))
          .as("content_hash"))
    merge(standing, updates, "doc_id", "version")
  }

  /** SCD type-2 history build — the OTHER standing-table maintenance
    * shape: instead of latest-wins, every state CHANGE becomes a
    * versioned row with a [valid_from, valid_to) interval, the open
    * current row carrying a NULL valid_to. Here each user's event_type
    * stream is the state: consecutive runs compress to one row (lag
    * compare), then valid_to = the next change's timestamp (lead).
    *
    * Scale shape: ONE hash shuffle on user_id serves both windows
    * (same partitioning + ordering, Catalyst plans a single Exchange
    * and sort); run-compression drops rows before the second window
    * evaluates. No global sort anywhere. */
  def scd2(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("next_ts", lead("ts", 1).over(w))
      .select(col("user_id"), col("event_type").as("status"),
        col("ts").as("valid_from"),
        // open rows carry a high-date sentinel, not NULL (NULL
        // timestamps don't compare equal across engines' result
        // harnesses: NaT != NaT). 2200-01-01 rather than the classic
        // 9999-12-31: the latter overflows nanosecond-resolution
        // datetime64 ranges (max 2262-04-11), which downstream
        // arrow/pandas consumers coerce unpredictably.
        coalesce(col("next_ts"), to_timestamp(lit("2200-01-01 00:00:00")))
          .as("valid_to"),
        col("next_ts").isNull.as("is_current"))
  }

  def qScd2(spark: SparkSession, dir: String): DataFrame =
    scd2(t(spark, dir, "events"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_upsert" -> (qUpsert _),
    "events_scd2" -> (qScd2 _))

  val oracleSql: Map[String, String] = Map(
    "pipeline_upsert" ->
      s"""WITH v AS (
         |  SELECT doc_id, 1 AS version, ${graft.dedup.Dedup.contentHashSql("text")} AS content_hash FROM documents
         |  UNION ALL
         |  SELECT doc_id, 2 AS version, ${graft.dedup.Dedup.contentHashSql("concat(text, ' [rev2]')")} AS content_hash
         |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, count(*) AS n_versions,
        |  CAST(max(version) AS BIGINT) AS version,
        |  max_by(content_hash, version) AS content_hash
        |FROM v GROUP BY doc_id""".stripMargin,
    "events_scd2" ->
      """WITH runs AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |changes AS (SELECT * FROM runs
        |  WHERE prev_type IS NULL OR prev_type != event_type)
        |SELECT user_id, event_type AS status, ts AS valid_from,
        |  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |    TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM changes""".stripMargin)
}
