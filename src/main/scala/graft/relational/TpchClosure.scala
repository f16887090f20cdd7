package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** The six TPC-H decision-support queries the star schema previously
  * could NOT express (SURVEY row 148m): Q2 min-cost supplier, Q9
  * product-type profit, Q11 important stock, Q16 supplier-relationship
  * count, Q20 excess stock, and Q21 waiting suppliers. They need a
  * `partsupp` table and lineitem commit/receipt dates the generated
  * testdata lacks — both are DERIVED here, deterministically and
  * engine-neutrally, from columns that do exist (the testdata is
  * read-only, so the derivation lives in the query on BOTH sides):
  *
  *  - partsupp := the DISTINCT (l_partkey, l_suppkey) pairs observed
  *    in lineitem (TPC-H populates lineitem's suppkey from the part's
  *    partsupp suppliers, so the observed pairs ARE a partsupp
  *    relation and every lineitem row joins back to it by
  *    construction), with
  *      ps_availqty        = 1 + (ps_partkey*13 + ps_suppkey*29) % 49
  *      ps_supplycost_cents = (ps_partkey*7919 + ps_suppkey*104729) % 99001 + 1000
  *    — pure integer hashes of the key, identical in Spark and DuckDB.
  *  - l_commitdate  := CAST(l_shipdate AS DATE) + ((l_orderkey*3 + l_linenumber*7) % 61 - 30) days
  *  - l_receiptdate := CAST(l_shipdate AS DATE) + (1 + (l_orderkey*5 + l_linenumber*11) % 30) days
  *    — commit in [-30,+30] and receipt in [+1,+30] of shipdate, so
  *    "late" (receipt > commit) lines are a nontrivial mixed subset.
  *
  * Determinism: every money value is integer CENTS until the final
  * projection (profit sums in exact 1e-4-dollar BIGINTs: |row| <=
  * 1e9, so a per-(nation, year) group stays far inside Long range at
  * bench SFs; the 100 TB deployment would widen the accumulator to
  * DECIMAL(38,0) as the Drift/Mix operators do). Thresholds compare
  * cross-multiplied integers — no division ever reaches a comparison.
  *
  * Scale notes per query are on the methods. Schema substitutions vs
  * spec (documented, value-neutral): p_type has no 'BRASS'-style
  * suffixes -> exact type match; Q16's supplier-complaint comment
  * filter -> s_acctbal < 0; Q2/Q20/Q21 filter a REGION (5 nations)
  * instead of one nation so the result is non-degenerate at sf0.001.
  *
  * Reference: vkmouse/Spark_clustering has no decision-support surface
  * (clustering only) — this closes the engine's own §2 row 148m.
  */
object TpchClosure extends graft.Registry {

  /** Derived partsupp: DISTINCT observed (partkey, suppkey) pairs +
    * integer-hash availqty / supplycost-cents. One shuffle, output
    * bounded by |part| x suppliers-per-part (~4 in TPC-H), i.e.
    * dimension-sized — broadcast-able against facts at most scales.
    * STAGED once per (JVM, dir) — five queries derive it, and the
    * distinct over the full fact scan is the expensive part (the
    * Dedup.stagedCandidates convention; 11 MB of q2's shuffle was
    * re-deriving this). */
  private[graft] def partsupp(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(spark, dir, "partsupp") {
      t(spark, dir, "lineitem")
        .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .distinct()
        .withColumn("ps_availqty",
          expr("CAST(1 + (ps_partkey * 13 + ps_suppkey * 29) % 49 AS INT)"))
        .withColumn("ps_supplycost_cents",
          expr("(ps_partkey * 7919 + ps_suppkey * 104729) % 99001 + 1000"))
        .coalesce(4)
    }

  private val sqlPartsupp =
    """ps AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    CAST(1 + (ps_partkey * 13 + ps_suppkey * 29) % 49 AS INT) AS ps_availqty,
      |    (ps_partkey * 7919 + ps_suppkey * 104729) % 99001 + 1000 AS ps_supplycost_cents
      |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |        FROM lineitem))""".stripMargin

  /** Lineitem with the two derived date columns. */
  private[relational] def lineitemDated(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .withColumn("l_commitdate", expr(
        "date_add(CAST(l_shipdate AS DATE), CAST((l_orderkey * 3 + l_linenumber * 7) % 61 AS INT) - 30)"))
      .withColumn("l_receiptdate", expr(
        "date_add(CAST(l_shipdate AS DATE), 1 + CAST((l_orderkey * 5 + l_linenumber * 11) % 30 AS INT))"))

  private val sqlDated =
    """li AS (
      |  SELECT *,
      |    CAST(l_shipdate AS DATE)
      |      + CAST((l_orderkey * 3 + l_linenumber * 7) % 61 - 30 AS INT) AS l_commitdate,
      |    CAST(l_shipdate AS DATE)
      |      + CAST(1 + (l_orderkey * 5 + l_linenumber * 11) % 30 AS INT) AS l_receiptdate
      |  FROM lineitem)""".stripMargin

  /** Suppliers of one region with their nation name (dim x dim x dim
    * — broadcast-sized everywhere). */
  private def regionSuppliers(spark: SparkSession, dir: String, region: String): DataFrame = {
    val nat = t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region").filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    t(spark, dir, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
  }

  private def sqlRegionSuppliers(region: String) =
    s"""rs AS (
       |  SELECT s_suppkey, s_name, s_acctbal, n_name
       |  FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = '$region')""".stripMargin

  /** TPC-H Q2 — min-cost supplier: for each LARGE part of size 10-20,
    * the EUROPE supplier(s) quoting the minimum supply cost, top 100
    * by account balance. Decorrelated Spark-first: the correlated
    * `cost = (SELECT min(cost) ...)` becomes one groupBy(partkey) min
    * over the region-filtered partsupp and an equi-join back — two
    * dimension-sized shuffles, zero fact scans. Supplier/nation/region
    * and the filtered part list broadcast. Ordering is total
    * ((s_acctbal, s_name) unique per supplier, p_partkey breaks the
    * rest), so the LIMIT 100 set is deterministic. */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rs = regionSuppliers(spark, dir, "EUROPE")
    val parts = t(spark, dir, "part")
      .filter(col("p_type") === "LARGE" && col("p_size").between(10, 20))
      .select("p_partkey", "p_brand")
    val eligible = partsupp(spark, dir)
      .join(broadcast(rs), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
    val minCost = eligible.groupBy(col("ps_partkey").as("m_partkey"))
      .agg(min("ps_supplycost_cents").as("min_cents"))
    eligible.join(minCost,
        col("ps_partkey") === col("m_partkey") &&
          col("ps_supplycost_cents") === col("min_cents"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"),
        (col("ps_supplycost_cents").cast("double") / 100.0).as("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
        col("p_partkey").asc)
      .limit(100)
  }

  /** TPC-H Q9 — product-type profit: per supplier nation per order
    * year, sum of revenue minus supply cost over lines of one part
    * family. All money in exact 1e-4-dollar integers (see object doc).
    * The fact joins: part filter broadcasts (reduces lineitem FIRST),
    * partsupp/supplier broadcast-sized, orders joins on orderkey (the
    * one real shuffle — bucketing pair at scale). */
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val parts = t(spark, dir, "part")
      .filter(col("p_name").like("%widget")).select("p_partkey")
    val supp = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val ord = t(spark, dir, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    t(spark, dir, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(partsupp(spark, dir)),
        col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("amount_4dp", expr(
        """CAST(round(l_extendedprice * 100) AS BIGINT)
          |  * (100 - CAST(round(l_discount * 100) AS BIGINT))
          |  - ps_supplycost_cents * CAST(l_quantity AS BIGINT) * 100""".stripMargin))
      .groupBy("n_name", "o_year")
      .agg((sum("amount_4dp").cast("double") / 10000.0).as("profit"))
  }

  /** TPC-H Q11 — important stock: per-part stock value (cost x
    * availqty, exact cents) over ASIA suppliers, keeping parts whose
    * value exceeds TWICE the mean per-part share (the spec's
    * 0.0001/SF fraction made scale-free: `value * n_parts > 2 *
    * total` compares cross-multiplied BIGINTs, no division). The
    * grand total is a 1-row broadcast. */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val rs = regionSuppliers(spark, dir, "ASIA").select("s_suppkey")
    val value = partsupp(spark, dir)
      .join(broadcast(rs), col("ps_suppkey") === col("s_suppkey"))
      .groupBy("ps_partkey")
      .agg(sum(col("ps_supplycost_cents") * col("ps_availqty")).as("value_cents"))
    val total = value.agg(
      sum("value_cents").as("total_cents"), count(lit(1)).as("n_parts"))
    value.crossJoin(broadcast(total))
      .filter(col("value_cents") * col("n_parts") > lit(2) * col("total_cents"))
      .select(col("ps_partkey"),
        (col("value_cents").cast("double") / 100.0).as("value"))
  }

  /** TPC-H Q16 — supplier-relationship count: distinct suppliers per
    * (brand, type, size) bucket over a size IN-list, excluding one
    * brand, one type, and "complaint" suppliers (stand-in: negative
    * account balance — the schema has no comment column). The excluded
    * supplier list is dimension-sized and anti-joins broadcast; the
    * distinct-agg shuffles on the 3-part group key. */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val badSupp = t(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val parts = t(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "MEDIUM" &&
        col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    partsupp(spark, dir)
      .join(broadcast(badSupp), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("ps_suppkey").as("supplier_cnt"))
  }

  /** TPC-H Q20 — excess stock: EUROPE suppliers holding more than half
    * a 1997 shipment's worth of any red part (2*availqty > shipped,
    * exact integer quantities). The correlated scalar subquery
    * decorrelates into one (partkey, suppkey) groupBy over the
    * year-pruned lineitem, joined to partsupp ON THE SAME KEY (both
    * sides hash-partition identically — no second shuffle under AQE),
    * then a semi join onto the broadcast supplier dim. */
  def q20ExcessStock(spark: SparkSession, dir: String): DataFrame = {
    val rs = regionSuppliers(spark, dir, "EUROPE")
    val redParts = t(spark, dir, "part")
      .filter(col("p_name").like("red%")).select("p_partkey")
    val shipped = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("bigint")).as("shipped_qty"))
    val excess = partsupp(spark, dir)
      .join(shipped,
        col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
      .filter(lit(2L) * col("ps_availqty") > col("shipped_qty"))
      .select(col("ps_suppkey").as("x_suppkey")).distinct()
    rs.join(excess, col("s_suppkey") === col("x_suppkey"), "left_semi")
      .select("s_name", "s_acctbal")
  }

  /** TPC-H Q21 — suppliers who kept orders waiting: late lines (the
    * derived receipt > commit) of multi-supplier 'F' orders where NO
    * other supplier was late. Spark-first decorrelation: instead of
    * the spec's EXISTS + NOT-EXISTS double self-join, ONE per-order
    * aggregate (distinct suppliers, distinct LATE suppliers) computed
    * over the orderkey-partitioned lineitem; a late line waits iff its
    * order has >= 2 suppliers and exactly 1 late one (itself, by
    * membership). Both the agg and the join shuffle on orderkey once
    * each and fuse under AQE; suppliers broadcast. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val rs = regionSuppliers(spark, dir, "AMERICA")
    val li = lineitemDated(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_receiptdate") > col("l_commitdate")).as("late"))
      // no-op on TPC-H's NOT NULL keys; stated explicitly so BOTH
      // consumers of lvl1 see the same inferred scan filters — the
      // suppkey-join branch otherwise gets an extra isnotnull pushed
      // down, the two (orderkey, suppkey) exchanges stop being
      // canonically equal, and ReuseExchange cannot dedupe them
      .filter(col("l_orderkey").isNotNull && col("l_suppkey").isNotNull)
    // Two-level aggregate instead of a double countDistinct: a pair of
    // DISTINCT aggs makes Spark Expand every input row 2x before the
    // shuffle (measured: the registry's top shuffler at 53 MB/sf0.1).
    // Reducing to (orderkey, suppkey) grain first is a map-side
    // combinable plain agg, and both levels + the later join share the
    // orderkey partitioning.
    // BOTH consumers (the per-order supplier census and the late-line
    // side) now derive from the same (orderkey, suppkey)-grain
    // aggregate: the identical exchange dedupes under ReuseExchange,
    // so lineitem is scanned and shuffled ONCE instead of twice. The
    // line multiplicity rides along as n_late_lines, so the final
    // numwait = sum(n_late_lines) is the same integer count(*) over
    // late lines the line-grain join produced.
    // lvl1 carries ONE aggregate column (late-line count; "supplier
    // was late" is n_late_lines > 0) so column pruning leaves both
    // consumers with byte-identical partial aggregates — a second
    // column used by only one side made the exchanges canonically
    // different and defeated the reuse.
    val lvl1 = li
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(when(col("late"), 1L).otherwise(0L)).as("n_late_lines"))
    val perOrder = lvl1
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("n_late_lines") > 0L, 1L).otherwise(0L)).as("n_late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .select(col("l_orderkey").as("q_orderkey"))
    val fOrders = t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    lvl1.filter(col("n_late_lines") > 0L)
      .join(perOrder, col("l_orderkey") === col("q_orderkey"))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(rs), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(sum(col("n_late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q9_profit" -> (q9Profit _),
    "q11_important_stock" -> (q11ImportantStock _),
    "q16_supplier_cnt" -> (q16SupplierCnt _),
    "q20_excess_stock" -> (q20ExcessStock _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _))

  val oracleSql: Map[String, String] = Map(
    "q2_min_cost_supplier" ->
      s"""WITH $sqlPartsupp, ${sqlRegionSuppliers("EUROPE")},
         |el AS (
         |  SELECT ps_partkey, ps_supplycost_cents, s_acctbal, s_name, n_name,
         |    p_partkey, p_brand
         |  FROM ps JOIN rs ON ps_suppkey = s_suppkey
         |  JOIN part ON ps_partkey = p_partkey
         |  WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20),
         |mc AS (SELECT ps_partkey AS m_partkey,
         |    min(ps_supplycost_cents) AS min_cents
         |  FROM el GROUP BY 1)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
         |  CAST(ps_supplycost_cents AS DOUBLE) / 100.0 AS ps_supplycost
         |FROM el JOIN mc ON ps_partkey = m_partkey
         |  AND ps_supplycost_cents = min_cents
         |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
         |LIMIT 100""".stripMargin,
    "q9_profit" ->
      s"""WITH $sqlPartsupp
         |SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
         |  CAST(sum(
         |    CAST(round(l_extendedprice * 100) AS BIGINT)
         |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
         |      - ps_supplycost_cents * CAST(l_quantity AS BIGINT) * 100
         |  ) AS DOUBLE) / 10000.0 AS profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%widget'
         |GROUP BY 1, 2""".stripMargin,
    "q11_important_stock" ->
      s"""WITH $sqlPartsupp, ${sqlRegionSuppliers("ASIA")},
         |v AS (
         |  SELECT ps_partkey,
         |    sum(ps_supplycost_cents * ps_availqty) AS value_cents
         |  FROM ps JOIN rs ON ps_suppkey = s_suppkey
         |  GROUP BY 1),
         |tot AS (SELECT sum(value_cents) AS total_cents,
         |    count(*) AS n_parts FROM v)
         |SELECT ps_partkey,
         |  CAST(value_cents AS DOUBLE) / 100.0 AS value
         |FROM v CROSS JOIN tot
         |WHERE value_cents * n_parts > 2 * total_cents""".stripMargin,
    "q16_supplier_cnt" ->
      s"""WITH $sqlPartsupp
         |SELECT p_brand, p_type, p_size,
         |  CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
         |FROM ps JOIN part ON ps_partkey = p_partkey
         |WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
         |  AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
         |  AND ps_suppkey NOT IN
         |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2, 3""".stripMargin,
    "q20_excess_stock" ->
      s"""WITH $sqlPartsupp, ${sqlRegionSuppliers("EUROPE")},
         |shipped AS (
         |  SELECT l_partkey, l_suppkey,
         |    sum(CAST(l_quantity AS BIGINT)) AS shipped_qty
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
         |  GROUP BY 1, 2),
         |excess AS (
         |  SELECT DISTINCT ps_suppkey
         |  FROM ps JOIN shipped
         |    ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |  WHERE 2 * ps_availqty > shipped_qty)
         |SELECT s_name, s_acctbal
         |FROM rs SEMI JOIN excess ON s_suppkey = ps_suppkey""".stripMargin,
    "q21_waiting_suppliers" ->
      s"""WITH $sqlDated, ${sqlRegionSuppliers("AMERICA")},
         |l AS (SELECT l_orderkey, l_suppkey,
         |    l_receiptdate > l_commitdate AS late FROM li),
         |po AS (
         |  SELECT l_orderkey AS q_orderkey
         |  FROM l GROUP BY 1
         |  HAVING count(DISTINCT l_suppkey) >= 2
         |    AND count(DISTINCT CASE WHEN late THEN l_suppkey END) = 1)
         |SELECT s_name, count(*) AS numwait
         |FROM l
         |JOIN po ON l_orderkey = q_orderkey
         |JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
         |JOIN rs ON l_suppkey = s_suppkey
         |WHERE late
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name ASC
         |LIMIT 100""".stripMargin)
}
