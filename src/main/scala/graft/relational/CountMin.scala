package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Count-Min sketch (Cormode-Muthukrishnan, from the public paper)
  * over the events stream: D independent hash rows x W buckets of
  * counts, point-estimate = min over rows of the hashed bucket's
  * count. Completes the sketch family next to HLL (distinct), GK
  * (quantiles), Bloom (membership) and freqItems (heavy hitters).
  *
  * Scale shape: the sketch build is ONE partial-aggregated shuffle on
  * (row, bucket) — D*W cells of merged state regardless of stream
  * size (at 100 TB the sketch is still 128 longs; partial aggregation
  * does the compression map-side). The estimate stage joins the tiny
  * sketch back broadcast. Hashes are md5-derived so the whole sketch —
  * build AND estimates — is deterministic and oracle-exact, unlike
  * the seeded builtins (HLL/GK are rows-only for exactly that reason).
  *
  * The one-sided guarantee (est >= exact, overestimate bounded by
  * collisions) is asserted both here (the `overestimate` column is
  * non-negative by construction of min-over-rows) and in NewOpsSpec.
  */
object CountMin extends graft.Registry {

  private val D = 4 // hash rows
  private val W = 32 // buckets per row

  /** Row-r bucket of a string key: the md5 family again (SURVEY §4) —
    * first 4 hex digits as an int, mod W. Identical in DuckDB. */
  private def bucket(r: Int, key: Column): Column =
    expr(s"CAST(conv(substr(md5(concat('$r:', ${key.toString()})), 1, 4), 16, 10) AS INT) % $W")

  private def bucketSql(r: Int, key: String): String = {
    // 4 hex nibbles -> int via the instr() hex-parse (the simhash
    // oracle's trick; DuckDB has no conv())
    val nib = (i: Int) => graft.pipeline.Splits.nibbleSql(s"md5(concat('$r:', $key))", i.toString)
    s"(((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)}) % $W"
  }

  /** Per-event-type frequency estimate from the sketch vs the exact
    * count: (event_type, est, exact, overestimate >= 0). */
  def qCountMin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    // sketch build: explode each event into its D (row, bucket) cells,
    // one map-side-combined shuffle -> D*W counter cells
    val sketch = ev.select(explode(array((0 until D).map(r =>
        struct(lit(r).as("r"), bucket(r, col("event_type")).as("b"))): _*)).as("c"))
      .groupBy(col("c.r").as("r"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    // point estimates for the distinct keys: min over the D rows
    val keys = ev.groupBy("event_type").agg(count(lit(1)).as("exact"))
    val probes = keys.select(col("event_type"), col("exact"),
      explode(array((0 until D).map(r =>
        struct(lit(r).as("r"), bucket(r, col("event_type")).as("b"))): _*)).as("c"))
      .select(col("event_type"), col("exact"), col("c.r").as("r"), col("c.b").as("b"))
    probes.join(broadcast(sketch), Seq("r", "b"))
      .groupBy("event_type")
      .agg(min("exact").as("exact"), min("cnt").as("est"))
      .select(col("event_type"), col("est"), col("exact"),
        (col("est") - col("exact")).as("overestimate"))
  }

  /** Join-cardinality estimation from two Count-Min sketches — the
    * sketch INNER PRODUCT bound (Cormode-Muthukrishnan §4.2, from the
    * public paper): |orders ⋈ customer on custkey| is estimated as
    * min over hash rows r of Σ_b cntO[r,b]·cntC[r,b], an upper bound
    * that is exact when no two keys collide in a row. This is the
    * planner-style use of the sketch: at 100 TB you want the join's
    * output size BEFORE running it (to pick broadcast vs shuffle, or
    * to veto a runaway join), and the estimate touches only two
    * D*W-cell summaries — each side is one map-side-combined
    * aggregate, the product is a D*W-row join, no row of the actual
    * join output is ever produced. The exact count (for the report's
    * error column) comes from joining the two per-key count frames —
    * Σ_k cO(k)·cC(k) — which is itself far cheaper than the join it
    * sizes. Output: one row (est, exact, overestimate >= 0). */
  def qJoinSizeEstimate(spark: SparkSession, dir: String): DataFrame = {
    def sketchOf(df: DataFrame, key: String): DataFrame =
      df.select(explode(array((0 until D).map(r =>
          struct(lit(r).as("r"),
            bucket(r, expr(s"CAST($key AS STRING)")).as("b"))): _*)).as("c"))
        .groupBy(col("c.r").as("r"), col("c.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
    val so = sketchOf(t(spark, dir, "orders"), "o_custkey")
    val sc = sketchOf(t(spark, dir, "customer"), "c_custkey")
    val est = so.join(sc.withColumnRenamed("cnt", "cnt2"), Seq("r", "b"))
      .groupBy("r").agg(sum(col("cnt") * col("cnt2")).as("ip"))
      .agg(min("ip").as("est"))
    val exact = t(spark, dir, "orders").groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("no"))
      .join(t(spark, dir, "customer").groupBy(col("c_custkey").as("k"))
        .agg(count(lit(1)).as("nc")), "k")
      .agg(sum(col("no") * col("nc")).as("exact"))
    est.crossJoin(broadcast(exact))
      .select(col("est"), col("exact"), (col("est") - col("exact")).as("overestimate"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_countmin" -> (qCountMin _),
    "join_size_estimate" -> (qJoinSizeEstimate _))

  val oracleSql: Map[String, String] = Map(
    "events_countmin" -> {
      val cells = (0 until D).map(r =>
        s"SELECT $r AS r, ${bucketSql(r, "event_type")} AS b FROM events")
        .mkString(" UNION ALL ")
      val probes = (0 until D).map(r =>
        s"SELECT event_type, exact, $r AS r, ${bucketSql(r, "event_type")} AS b FROM keys")
        .mkString(" UNION ALL ")
      s"""WITH sketch AS (
         |  SELECT r, b, count(*) AS cnt FROM ($cells) GROUP BY r, b),
         |keys AS (SELECT event_type, count(*) AS exact FROM events GROUP BY event_type),
         |probes AS ($probes)
         |SELECT event_type, min(cnt) AS est, min(exact) AS exact,
         |  min(cnt) - min(exact) AS overestimate
         |FROM probes JOIN sketch USING (r, b)
         |GROUP BY event_type""".stripMargin
    },
    "join_size_estimate" -> {
      def cells(table: String, key: String) = (0 until D).map(r =>
        s"SELECT $r AS r, ${bucketSql(r, s"CAST($key AS VARCHAR)")} AS b FROM $table")
        .mkString(" UNION ALL ")
      s"""WITH so AS (
         |  SELECT r, b, count(*) AS cnt FROM (${cells("orders", "o_custkey")}) GROUP BY r, b),
         |sc AS (
         |  SELECT r, b, count(*) AS cnt FROM (${cells("customer", "c_custkey")}) GROUP BY r, b),
         |ip AS (SELECT so.r, sum(so.cnt * sc.cnt) AS ip
         |  FROM so JOIN sc USING (r, b) GROUP BY so.r),
         |est AS (SELECT min(ip) AS est FROM ip),
         |ex AS (SELECT sum(no * nc) AS exact FROM
         |  (SELECT o_custkey AS k, count(*) AS no FROM orders GROUP BY 1) o
         |  JOIN (SELECT c_custkey AS k, count(*) AS nc FROM customer GROUP BY 1) c USING (k))
         |SELECT CAST(est AS BIGINT) AS est, CAST(exact AS BIGINT) AS exact,
         |  CAST(est - exact AS BIGINT) AS overestimate
         |FROM est CROSS JOIN ex""".stripMargin
    })
}
