package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Exact

/** Temporal backtest of the Markov next-event model: train the
  * transition table on the stream BEFORE a fixed split instant, then
  * score its argmax next-event prediction on the transitions AFTER it
  * — the "does yesterday's transition matrix predict tomorrow"
  * readout that turns the descriptive `events_transitions` /
  * `events_markov_stationary` family into an evaluated model (the
  * time-split discipline of `pipeline_split`, applied to sequences:
  * no future leaks into the table). Reports per from-state the
  * trained prediction, test support and accuracy, plus an __ALL__
  * rollup row — the number to beat before anything fancier than a
  * bigram-of-events model is justified.
  *
  * Assignment rule: a (e_i, e_{i+1}) transition belongs to train iff
  * ts_i < SPLIT (the pair is "emitted" by its first event); per-user
  * ordering is (ts, event_id) — the standing events total order.
  *
  * Determinism: argmax with (count DESC, next_type ASC) ties;
  * accuracies are exact integer HALF_UP divisions; the split is a
  * literal.
  *
  * Scale shape: one user-partitioned lead window (the sessionize cost
  * class), one bounded (state x state) train aggregate, the argmax
  * over state-bounded partitions, and a bounded per-state test
  * rollup. Nothing after the lead grows past |states|². */
object MarkovBacktest extends graft.Registry {

  private val SPLIT = "2024-01-21 00:00:00" // ~2/3 train on the corpus

  def qMarkovBacktest(spark: SparkSession, dir: String): DataFrame =
    backtestOf(t(spark, dir, "events")
      .select("user_id", "ts", "event_id", "event_type"))

  /** [[qMarkovBacktest]] over any (user_id, ts, event_id, event_type)
    * frame. */
  private[relational] def backtestOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .withColumn("is_train", col("ts") < lit(SPLIT).cast("timestamp"))
    val trained = pairs.filter(col("is_train"))
      .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
    val argmaxW = Window.partitionBy("event_type")
      .orderBy(col("n").desc, col("next_type").asc)
    val predicted = trained
      .withColumn("rk", row_number().over(argmaxW))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("next_type").as("predicted_next"))
    // one pass over the test transitions: join the state-bounded
    // prediction table (broadcast-sized by construction) once, then
    // count support and hits in the same aggregate
    val per = pairs.filter(!col("is_train"))
      .join(broadcast(predicted), Seq("event_type"), "left")
      .groupBy("event_type")
      .agg(max(col("predicted_next")).as("predicted_next"),
        count(lit(1)).as("n_test"),
        sum(when(col("next_type") === col("predicted_next"), 1L)
          .otherwise(0L)).as("n_correct"))
    val all = per.agg(sum("n_test").as("n_test"), sum("n_correct").as("n_correct"))
      .select(lit("__ALL__").as("event_type"),
        lit(null).cast("string").as("predicted_next"),
        col("n_test"), col("n_correct"))
    per.unionByName(all)
      .withColumn("accuracy", expr(Exact.rate6("n_correct", "n_test")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_markov_backtest" -> (qMarkovBacktest _))

  val oracleSql: Map[String, String] = Map(
    "events_markov_backtest" ->
      s"""WITH pairs AS (
         |  SELECT event_type, next_type, ts < TIMESTAMP '$SPLIT' AS is_train
         |  FROM (
         |    SELECT event_type, ts,
         |      lead(event_type) OVER (PARTITION BY user_id
         |        ORDER BY ts, event_id) AS next_type
         |    FROM events)
         |  WHERE next_type IS NOT NULL),
         |trained AS (
         |  SELECT event_type, next_type, count(*) AS n
         |  FROM pairs WHERE is_train GROUP BY 1, 2),
         |pred AS (
         |  SELECT event_type, next_type AS predicted_next FROM (
         |    SELECT event_type, next_type, row_number() OVER (
         |      PARTITION BY event_type
         |      ORDER BY n DESC, next_type ASC) AS rk FROM trained)
         |  WHERE rk = 1),
         |test AS (SELECT event_type, next_type FROM pairs WHERE NOT is_train),
         |per AS (
         |  SELECT t.event_type, max(p.predicted_next) AS predicted_next,
         |    count(*) AS n_test,
         |    CAST(sum(CASE WHEN t.next_type = p.predicted_next
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM test t LEFT JOIN pred p ON p.event_type = t.event_type
         |  GROUP BY t.event_type),
         |allr AS (
         |  SELECT '__ALL__' AS event_type, CAST(NULL AS VARCHAR) AS predicted_next,
         |    CAST(sum(n_test) AS BIGINT) AS n_test,
         |    CAST(sum(n_correct) AS BIGINT) AS n_correct
         |  FROM per),
         |u AS (SELECT * FROM per UNION ALL SELECT * FROM allr)
         |SELECT event_type, predicted_next, n_test, n_correct,
         |  ${Exact.duck6("n_correct", "n_test")} AS accuracy
         |FROM u""".stripMargin)
}
