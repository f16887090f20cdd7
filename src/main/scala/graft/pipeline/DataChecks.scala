package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Declarative data-quality constraint suite in the style of the
  * public Deequ/Great-Expectations tools: a set of table constraints
  * (size, completeness, key uniqueness, bounds, set membership,
  * referential integrity) verified in one aggregation pass plus one
  * broadcast anti-join (the FK check) and emitted as a long report row
  * per check — the validation gate a production pipeline runs on
  * every landed batch before it is admitted downstream.
  *
  * Scale shape: every observation is an aggregate over the same scan,
  * so Spark computes the whole suite as one pass (the distinct-key
  * count adds the usual expand + second shuffle, still bounded state);
  * the report itself is O(#checks) rows. Nothing is collected — the
  * long reshape explodes a literal struct array over the 1-row
  * aggregate.
  */
object DataChecks extends graft.Registry {

  private val MIN_QTY = 1.0

  /** The constraint report over `lineitem`: check name, column,
    * observed metric (rounded 6), pass/fail. */
  def qDataChecks(spark: SparkSession, dir: String): DataFrame = {
    val agg = t(spark, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      count(col("l_quantity")).as("n_qty"),
      count(col("l_returnflag")).as("n_rf"),
      // key-uniqueness via the numeric injection l_orderkey*10 +
      // l_linenumber (linenumber is 1..7 and BOTH columns are NOT NULL
      // per the TPC-H schema — required: concat_ws skips a NULL
      // component but arithmetic yields NULL, which countDistinct
      // drops; with non-null inputs the map is injective and the
      // distinct COUNT is identical to the concat-string key the
      // oracle mirrors) — the distinct shuffle moves 8-byte longs
      // instead of ~15-char strings (guide §2.3 "narrower types";
      // measured: the distinct stage was 0.8 s of this query's 1.0 s)
      countDistinct(col("l_orderkey") * 10 + col("l_linenumber")).as("n_key"),
      min(col("l_quantity")).as("min_qty"),
      sum(when(col("l_discount") >= 0.0 && col("l_discount") <= 1.0, 1L)
        .otherwise(0L)).as("n_disc_ok"),
      sum(when(col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L)).as("n_rf_ok"),
      sum(when(col("l_extendedprice") >= 0.0, 1L).otherwise(0L)).as("n_price_ok"))
    def frac(n: String) = expr(graft.functions.Exact.rate6(n, "n_rows"))
    def check(name: String, column: String, observed: org.apache.spark.sql.Column,
              passed: org.apache.spark.sql.Column) =
      struct(lit(name).as("check"), lit(column).as("col_name"),
        observed.as("observed"), passed.as("passed"))
    // referential integrity: every fact FK resolves in its dimension
    // (one broadcast anti-join count — the single non-single-pass
    // check, priced accordingly)
    val orphans = t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "orders").select(col("o_orderkey"))),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    val agg2 = agg.crossJoin(broadcast(orphans))
    agg2.select(explode(array(
      check("size", "*", col("n_rows").cast("double"), col("n_rows") > 0L),
      check("completeness", "l_quantity", frac("n_qty"), col("n_qty") === col("n_rows")),
      check("completeness", "l_returnflag", frac("n_rf"), col("n_rf") === col("n_rows")),
      check("uniqueness", "l_orderkey:l_linenumber", frac("n_key"),
        col("n_key") === col("n_rows")),
      check("min_bound", "l_quantity", col("min_qty"), col("min_qty") >= MIN_QTY),
      check("range_0_1", "l_discount", frac("n_disc_ok"), col("n_disc_ok") === col("n_rows")),
      check("in_set_ANR", "l_returnflag", frac("n_rf_ok"), col("n_rf_ok") === col("n_rows")),
      check("non_negative", "l_extendedprice", frac("n_price_ok"),
        col("n_price_ok") === col("n_rows")),
      check("referential", "l_orderkey->o_orderkey",
        col("n_orphans").cast("double"), col("n_orphans") === 0L))).as("c"))
      .select(col("c.check").as("check"), col("c.col_name").as("col_name"),
        col("c.observed").as("observed"), col("c.passed").as("passed"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_data_checks" -> (qDataChecks _))

  val oracleSql: Map[String, String] = Map(
    "pipeline_data_checks" ->
      s"""WITH a AS (SELECT
         |  count(*) AS n_rows,
         |  count(l_quantity) AS n_qty,
         |  count(l_returnflag) AS n_rf,
         |  count(DISTINCT concat_ws(':', l_orderkey, l_linenumber)) AS n_key,
         |  min(l_quantity) AS min_qty,
         |  sum(CASE WHEN l_discount >= 0.0 AND l_discount <= 1.0 THEN 1 ELSE 0 END) AS n_disc_ok,
         |  sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS n_rf_ok,
         |  sum(CASE WHEN l_extendedprice >= 0.0 THEN 1 ELSE 0 END) AS n_price_ok
         |FROM lineitem)
         |SELECT 'size' AS check, '*' AS col_name,
         |  CAST(n_rows AS DOUBLE) AS observed, n_rows > 0 AS passed FROM a
         |UNION ALL SELECT 'completeness', 'l_quantity',
         |  ${graft.functions.Exact.duck6("n_qty", "n_rows")}, n_qty = n_rows FROM a
         |UNION ALL SELECT 'completeness', 'l_returnflag',
         |  ${graft.functions.Exact.duck6("n_rf", "n_rows")}, n_rf = n_rows FROM a
         |UNION ALL SELECT 'uniqueness', 'l_orderkey:l_linenumber',
         |  ${graft.functions.Exact.duck6("n_key", "n_rows")}, n_key = n_rows FROM a
         |UNION ALL SELECT 'min_bound', 'l_quantity',
         |  min_qty, min_qty >= $MIN_QTY FROM a
         |UNION ALL SELECT 'range_0_1', 'l_discount',
         |  ${graft.functions.Exact.duck6("n_disc_ok", "n_rows")}, n_disc_ok = n_rows FROM a
         |UNION ALL SELECT 'in_set_ANR', 'l_returnflag',
         |  ${graft.functions.Exact.duck6("n_rf_ok", "n_rows")}, n_rf_ok = n_rows FROM a
         |UNION ALL SELECT 'non_negative', 'l_extendedprice',
         |  ${graft.functions.Exact.duck6("n_price_ok", "n_rows")}, n_price_ok = n_rows FROM a
         |UNION ALL SELECT 'referential', 'l_orderkey->o_orderkey',
         |  CAST(n_orphans AS DOUBLE), n_orphans = 0 FROM
         |  (SELECT count(*) AS n_orphans FROM lineitem l
         |   WHERE NOT EXISTS (SELECT 1 FROM orders o
         |                     WHERE o.o_orderkey = l.l_orderkey))""".stripMargin)
}
