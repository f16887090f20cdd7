package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Incremental view maintenance for a JOIN — the delta-join identity
  * behind every materialized join view and streaming join:
  *
  *   (A + dA) join (B + dB)
  *     = A join B  +  dA join B  +  A join dB  +  dA join dB
  *
  * so refreshing the view touches only delta-sized inputs on three of
  * the four arms (the standing `agg_incremental` row proves the same
  * shape for aggregates; this proves it for joins, where the naive
  * refresh is a full fact-fact recompute). Deltas are the standing
  * deterministic %10 batch convention on both sides (orders AND
  * customer), and the operator VERIFIES itself: arm counts and an
  * exact revenue-cents checksum must reproduce the from-scratch full
  * join bit-for-bit.
  *
  * Determinism: pure integer counts and cent sums.
  *
  * Scale shape: each arm is one co-partitioned equi-join on the
  * custkey; the three delta arms scan delta-sized inputs only — the
  * full-join arm exists here only as the verification oracle. */
object Ivm extends graft.Registry {

  def qJoinIncremental(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("cents"))
    val cust = t(spark, dir, "customer").select(col("c_custkey"))
    joinIncrementalOf(orders, cust)
  }

  /** [[qJoinIncremental]] over any orders (o_custkey, o_orderkey,
    * cents) and customer (c_custkey) frames. */
  private[relational] def joinIncrementalOf(orders: DataFrame, cust: DataFrame): DataFrame = {
    val aOld = orders.filter(col("o_orderkey") % 10 =!= 0)
    val aDel = orders.filter(col("o_orderkey") % 10 === 0)
    val bOld = cust.filter(col("c_custkey") % 10 =!= 0)
    val bDel = cust.filter(col("c_custkey") % 10 === 0)
    def arm(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n"), coalesce(sum("cents"), lit(0L)).as("s"))
    val oo = arm(aOld, bOld).select(col("n").as("n_old_old"), col("s").as("s_old_old"))
    val dbo = arm(aDel, bOld).select(col("n").as("n_delta_a"), col("s").as("s_delta_a"))
    val odb = arm(aOld, bDel).select(col("n").as("n_delta_b"), col("s").as("s_delta_b"))
    val dd = arm(aDel, bDel).select(col("n").as("n_delta_both"), col("s").as("s_delta_both"))
    val full = arm(orders, cust).select(col("n").as("n_full"), col("s").as("s_full"))
    oo.crossJoin(dbo).crossJoin(odb).crossJoin(dd).crossJoin(full)
      .withColumn("n_incremental",
        col("n_old_old") + col("n_delta_a") + col("n_delta_b") + col("n_delta_both"))
      .withColumn("s_incremental",
        col("s_old_old") + col("s_delta_a") + col("s_delta_b") + col("s_delta_both"))
      .select(col("n_old_old"), col("n_delta_a"), col("n_delta_b"),
        col("n_delta_both"), col("n_incremental"), col("n_full"),
        col("s_incremental"), col("s_full"),
        when(col("n_incremental") === col("n_full") &&
          col("s_incremental") === col("s_full"), 1L).otherwise(0L)
          .as("identity_holds"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_incremental" -> (qJoinIncremental _))

  val oracleSql: Map[String, String] = Map(
    "join_incremental" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents FROM orders),
        |arm AS (
        |  SELECT
        |    CASE WHEN o_orderkey % 10 <> 0 AND c_custkey % 10 <> 0 THEN 'oo'
        |         WHEN o_orderkey % 10 = 0 AND c_custkey % 10 <> 0 THEN 'da'
        |         WHEN o_orderkey % 10 <> 0 AND c_custkey % 10 = 0 THEN 'db'
        |         ELSE 'dd' END AS arm,
        |    cents
        |  FROM o JOIN customer ON o_custkey = c_custkey),
        |c AS (
        |  SELECT
        |    sum(CASE WHEN arm = 'oo' THEN 1 ELSE 0 END) AS n_old_old,
        |    sum(CASE WHEN arm = 'da' THEN 1 ELSE 0 END) AS n_delta_a,
        |    sum(CASE WHEN arm = 'db' THEN 1 ELSE 0 END) AS n_delta_b,
        |    sum(CASE WHEN arm = 'dd' THEN 1 ELSE 0 END) AS n_delta_both,
        |    count(*) AS n_full,
        |    sum(CASE WHEN arm = 'oo' THEN cents ELSE 0 END) AS s_old_old,
        |    sum(CASE WHEN arm = 'da' THEN cents ELSE 0 END) AS s_delta_a,
        |    sum(CASE WHEN arm = 'db' THEN cents ELSE 0 END) AS s_delta_b,
        |    sum(CASE WHEN arm = 'dd' THEN cents ELSE 0 END) AS s_delta_both,
        |    sum(cents) AS s_full
        |  FROM arm)
        |SELECT CAST(n_old_old AS BIGINT) AS n_old_old,
        |  CAST(n_delta_a AS BIGINT) AS n_delta_a,
        |  CAST(n_delta_b AS BIGINT) AS n_delta_b,
        |  CAST(n_delta_both AS BIGINT) AS n_delta_both,
        |  CAST(n_old_old + n_delta_a + n_delta_b + n_delta_both AS BIGINT)
        |    AS n_incremental,
        |  CAST(n_full AS BIGINT) AS n_full,
        |  CAST(s_old_old + s_delta_a + s_delta_b + s_delta_both AS BIGINT)
        |    AS s_incremental,
        |  CAST(s_full AS BIGINT) AS s_full,
        |  CAST(CASE WHEN n_old_old + n_delta_a + n_delta_b + n_delta_both = n_full
        |        AND s_old_old + s_delta_a + s_delta_b + s_delta_both = s_full
        |       THEN 1 ELSE 0 END AS BIGINT) AS identity_holds
        |FROM c""".stripMargin)
}
