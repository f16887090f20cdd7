package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Event-sequence mining: the top user-day paths (the "what do
  * sessions actually look like" table behind funnel design) and the
  * Markov next-event entropy (how predictable the stream is, per
  * state and overall — the information-theoretic summary on top of
  * the `events_transitions` matrix).
  *
  * Determinism: paths are exact strings built from rank-ordered
  * event types (row_number ties broken on event_id, the standing
  * convention); the entropy terms -p*ln(p) are IEEE expressions of
  * exact integer ratios, accumulated via ORDERED cumulative windows
  * over the <= |event types|-row frames (sequential both engines at
  * this size — the KM convention), never an unordered double sum.
  *
  * Scale shape: one row_number window PARTITIONED BY (user, day);
  * path census bounded by distinct paths (8-hop type strings);
  * transition census bounded by |types|^2. */
object Sequencing extends graft.Registry {

  private val HOPS = 8
  private val TOPP = 20

  def qTopPaths(spark: SparkSession, dir: String): DataFrame =
    topPathsOf(t(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("event_type")))

  /** [[qTopPaths]] over any (user_id, day, ts, event_id, event_type). */
  private[relational] def topPathsOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").asc, col("event_id").asc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= HOPS)
      .groupBy("user_id", "day")
      .agg(expr(
        s"""array_join(transform(
           |  array_sort(collect_list(struct(rn, event_type))),
           |  x -> x.event_type), '>')""".stripMargin).as("path"),
        count(lit(1)).as("len"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"),
        max("len").as("path_len"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(TOPP)
  }

  def qMarkovEntropy(spark: SparkSession, dir: String): DataFrame =
    markovEntropyOf(t(spark, dir, "events")
      .select("user_id", "ts", "event_id", "event_type"))

  /** [[qMarkovEntropy]] over any (user_id, ts, event_id, event_type).
    * Per state i: H_i = -sum_j p_ij ln p_ij (nats); the overall
    * entropy rate weights H_i by the state's empirical share of
    * transitions. */
  private[relational] def markovEntropyOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = events
      .withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type").as("cur"), col("nxt"))
    val cnt = pairs.groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
    val ci = cnt.groupBy("cur").agg(sum("c").as("n_out"))
    val total = ci.agg(sum("n_out").as("n_total"))
    val hW = Window.partitionBy("cur").orderBy("nxt")
      .rowsBetween(Window.unboundedPreceding, 0)
    val lastW = Window.partitionBy("cur").orderBy(col("nxt").desc)
    val hState = cnt.join(ci, "cur")
      .withColumn("term", expr(
        "-(CAST(c AS DOUBLE) / n_out) * ln(CAST(c AS DOUBLE) / n_out)"))
      .withColumn("hcum", sum("term").over(hW))
      .withColumn("rk", row_number().over(lastW))
      .filter(col("rk") === 1)
      .select(col("cur"), col("n_out"), col("hcum").as("h"))
    val rateW = Window.orderBy("cur").rowsBetween(Window.unboundedPreceding, 0)
    val lastState = Window.orderBy(col("cur").desc)
    val rate = hState.crossJoin(broadcast(total))
      .withColumn("wh", expr("(CAST(n_out AS DOUBLE) / n_total) * h"))
      .withColumn("rcum", sum("wh").over(rateW))
      .withColumn("rk", row_number().over(lastState))
      .filter(col("rk") === 1)
      .select(round(col("rcum"), 6).as("entropy_rate"))
    hState.crossJoin(broadcast(total)).crossJoin(broadcast(rate))
      .select(col("cur").as("event_type"), col("n_out"),
        expr(graft.functions.Exact.rate6("n_out", "n_total")).as("p_state"),
        round(col("h"), 6).as("next_entropy"),
        col("entropy_rate"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_top_paths" -> (qTopPaths _),
    "events_markov_entropy" -> (qMarkovEntropy _))

  val oracleSql: Map[String, String] = Map(
    "events_top_paths" ->
      s"""WITH r AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
         |      ORDER BY ts ASC, event_id ASC) AS rn
         |  FROM events),
         |p AS (
         |  SELECT user_id, day,
         |    string_agg(event_type, '>' ORDER BY rn) AS path,
         |    count(*) AS len
         |  FROM r WHERE rn <= $HOPS GROUP BY 1, 2)
         |SELECT path, count(*) AS n_sessions, max(len) AS path_len
         |FROM p GROUP BY path
         |ORDER BY n_sessions DESC, path ASC
         |LIMIT $TOPP""".stripMargin,
    "events_markov_entropy" ->
      s"""WITH pairs AS (
        |  SELECT event_type AS cur,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS nxt
        |  FROM events),
        |cnt AS (SELECT cur, nxt, count(*) AS c
        |  FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |ci AS (SELECT cur, sum(c) AS n_out FROM cnt GROUP BY 1),
        |tot AS (SELECT sum(n_out) AS n_total FROM ci),
        |terms AS (
        |  SELECT cnt.cur, ci.n_out,
        |    -(CAST(c AS DOUBLE) / n_out) * ln(CAST(c AS DOUBLE) / n_out)
        |      AS term,
        |    row_number() OVER (PARTITION BY cnt.cur ORDER BY nxt DESC) AS rk,
        |    sum(-(CAST(c AS DOUBLE) / n_out)
        |        * ln(CAST(c AS DOUBLE) / n_out)) OVER (
        |      PARTITION BY cnt.cur ORDER BY nxt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hcum
        |  FROM cnt JOIN ci ON cnt.cur = ci.cur),
        |hs AS (SELECT cur, n_out, hcum AS h FROM terms WHERE rk = 1),
        |rt AS (
        |  SELECT round(rcum, 6) AS entropy_rate FROM (
        |    SELECT sum((CAST(n_out AS DOUBLE) / n_total) * h) OVER (
        |        ORDER BY cur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS rcum,
        |      row_number() OVER (ORDER BY cur DESC) AS rk
        |    FROM hs CROSS JOIN tot)
        |  WHERE rk = 1)
        |SELECT cur AS event_type, CAST(n_out AS BIGINT) AS n_out,
        |  ${graft.functions.Exact.duck6("n_out", "n_total")} AS p_state,
        |  round(h, 6) AS next_entropy, entropy_rate
        |FROM hs CROSS JOIN tot CROSS JOIN rt""".stripMargin)
}
