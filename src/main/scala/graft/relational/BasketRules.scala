package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Exact

/** Directed association rules a → b over the market baskets — the
  * classic Agrawal-Srikant rule readout on top of the co-occurrence
  * families the engine already has (`basket_lift` is symmetric,
  * `basket_triples` is Apriori L3; rules are the DIRECTED, actionable
  * form a recommender ships): confidence = P(b|a), support = P(a,b),
  * and leverage = P(a,b) − P(a)P(b) (the additive independence gap —
  * lift's ratio form divides, leverage subtracts, so rare-but-locked
  * pairs rank differently). Top-50 under a total order.
  *
  * Determinism: confidence/support are exact HALF_UP integer
  * divisions; leverage is ONE signed cross-multiplied division
  * (n_ab·N − n_a·n_b over N², DECIMAL/HUGEINT-widened); the top-50
  * cut orders by the exact confidence MICRO-INTEGER (not the rounded
  * double) with (antecedent, consequent) tie-breaks, so the cut line
  * cannot move cross-engine.
  *
  * Scale shape: identical to basket_lift — the pair explosion is a
  * co-partitioned self-equi-join on the order key with order-size-
  * bounded fan-out (paid ONCE per (JVM, dir) in the staged basket
  * index, BasketStage), marginals ride a shuffle join keyed on the
  * part, and only the bounded top-50 survives (TopK over the pair
  * frame). */
object BasketRules extends graft.Registry {

  private val MIN_SUPPORT = 2L
  private val TOPK = 50

  def qBasketRules(spark: SparkSession, dir: String): DataFrame = {
    // Staged basket index (BasketStage, §2 #112): items + pair census
    // shared with basket_lift / basket_triples instead of rebuilt.
    val li = BasketStage.items(spark, dir)
    val nOrders = t(spark, dir, "orders").agg(count(lit(1)).as("n_orders"))
    val perPart = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
    val pairs = BasketStage.pairCounts(spark, dir)
      .filter(col("n_ab") >= MIN_SUPPORT)
    val directed = pairs.select(col("pa").as("antecedent"),
        col("pb").as("consequent"), col("n_ab"))
      .unionByName(pairs.select(col("pb").as("antecedent"),
        col("pa").as("consequent"), col("n_ab")))
    directed
      .join(perPart.select(col("l_partkey").as("antecedent"),
        col("n_part").as("n_ante")), "antecedent")
      .join(perPart.select(col("l_partkey").as("consequent"),
        col("n_part").as("n_cons")), "consequent")
      .crossJoin(broadcast(nOrders))
      .withColumn("conf_micro",
        expr("(2 * n_ab * 1000000 + n_ante) DIV (2 * n_ante)"))
      .orderBy(col("conf_micro").desc, col("antecedent").asc,
        col("consequent").asc)
      .limit(TOPK)
      .select(col("antecedent"), col("consequent"), col("n_ab"), col("n_ante"),
        expr("CAST(conf_micro AS DOUBLE) / 1000000.0").as("confidence"),
        expr(Exact.rate6("n_ab", "n_orders")).as("support"),
        expr(Exact.srate6(
          "CAST(n_ab AS DECIMAL(38,0)) * n_orders - CAST(n_ante AS DECIMAL(38,0)) * n_cons",
          "CAST(n_orders AS DECIMAL(38,0)) * n_orders")).as("leverage"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "basket_rules" -> (qBasketRules _))

  val oracleSql: Map[String, String] = Map(
    "basket_rules" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |n AS (SELECT count(*) AS n_orders FROM orders),
         |pp AS (SELECT l_partkey, count(*) AS n_part FROM li GROUP BY 1),
         |pairs AS (
         |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |  WHERE a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $MIN_SUPPORT),
         |directed AS (
         |  SELECT pa AS antecedent, pb AS consequent, n_ab FROM pairs
         |  UNION ALL
         |  SELECT pb AS antecedent, pa AS consequent, n_ab FROM pairs),
         |j AS (
         |  SELECT antecedent, consequent, n_ab,
         |    na.n_part AS n_ante, nc.n_part AS n_cons, n.n_orders,
         |    (2 * n_ab * 1000000 + na.n_part) // (2 * na.n_part) AS conf_micro
         |  FROM directed
         |  JOIN pp na ON na.l_partkey = antecedent
         |  JOIN pp nc ON nc.l_partkey = consequent
         |  CROSS JOIN n),
         |top AS (SELECT * FROM j
         |  ORDER BY conf_micro DESC, antecedent ASC, consequent ASC
         |  LIMIT $TOPK)
         |SELECT antecedent, consequent, n_ab, n_ante,
         |  CAST(conf_micro AS DOUBLE) / 1000000.0 AS confidence,
         |  ${Exact.duck6("n_ab", "n_orders")} AS support,
         |  ${Exact.sduck6(
             "CAST(n_ab AS HUGEINT) * n_orders - CAST(n_ante AS HUGEINT) * n_cons",
             "CAST(n_orders AS HUGEINT) * n_orders")} AS leverage
         |FROM top""".stripMargin)
}
