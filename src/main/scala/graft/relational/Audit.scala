package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Duplicate-payment screen — the classic accounts-payable audit
  * query: two orders by the SAME customer for near-identical amounts
  * (same $1k amount band) within 90 days of each other. Joins on the
  * (customer, amount-band) equi-key so the candidate set is banded —
  * never a per-customer cross join over all order pairs — the
  * `events_banded` discipline applied to an audit workload.
  *
  * Determinism: amounts band by exact integer arithmetic on cents;
  * the pair list is a total order (custkey, key_a, key_b); day gaps
  * are exact date arithmetic.
  *
  * Scale shape: one hash shuffle on (custkey, band); per-key fanout
  * bounded by orders-per-customer-per-band squared (single digits),
  * not order-count squared. */
object Audit extends graft.Registry {

  private val BAND = 100000L // $1k in cents
  private val DAYS = 90

  def qDoubleCharge(spark: SparkSession, dir: String): DataFrame =
    doubleChargeOf(t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("cents")))

  /** [[qDoubleCharge]] over any (o_custkey, o_orderkey, o_orderdate,
    * cents) frame. */
  private[relational] def doubleChargeOf(orders: DataFrame): DataFrame = {
    val banded = orders.withColumn("band", expr(s"cents DIV $BAND"))
    val a = banded.select(col("o_custkey"), col("band"),
      col("o_orderkey").as("key_a"), col("o_orderdate").as("da"),
      col("cents").as("cents_a"))
    val b = banded.select(col("o_custkey"), col("band"),
      col("o_orderkey").as("key_b"), col("o_orderdate").as("db"),
      col("cents").as("cents_b"))
    a.join(b, Seq("o_custkey", "band"))
      .filter(col("key_a") < col("key_b") &&
        abs(expr("datediff(db, da)")) <= DAYS)
      .select(col("o_custkey"), col("band"), col("key_a"), col("key_b"),
        col("cents_a"), col("cents_b"),
        abs(expr("datediff(db, da)")).cast("long").as("day_gap"))
      .orderBy("o_custkey", "key_a", "key_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_double_charge" -> (qDoubleCharge _))

  val oracleSql: Map[String, String] = Map(
    "orders_double_charge" ->
      s"""WITH o AS (
         |  SELECT o_custkey, o_orderkey, o_orderdate,
         |    CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
         |    CAST(round(o_totalprice * 100.0) AS BIGINT) // $BAND AS band
         |  FROM orders)
         |SELECT a.o_custkey, a.band,
         |  a.o_orderkey AS key_a, b.o_orderkey AS key_b,
         |  a.cents AS cents_a, b.cents AS cents_b,
         |  CAST(abs(date_diff('day', a.o_orderdate, b.o_orderdate)) AS BIGINT)
         |    AS day_gap
         |FROM o a JOIN o b
         |  ON a.o_custkey = b.o_custkey AND a.band = b.band
         |  AND a.o_orderkey < b.o_orderkey
         |  AND abs(date_diff('day', a.o_orderdate, b.o_orderdate)) <= $DAYS""".stripMargin)
}
