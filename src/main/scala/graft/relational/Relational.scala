package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.functions.Exact.r6

/** Core relational operators over the testdata star schema: scan+filter
  * with pushdown, hash/broadcast joins, partial aggregation, top-k,
  * window functions, sessionization.
  *
  * All plans are declarative DataFrame ops so Catalyst applies predicate
  * pushdown, column pruning and join selection; small dimensions are
  * explicitly `broadcast()` so the 100 TB plan has no shuffle on the
  * dimension side.
  */
object Relational extends graft.Registry {

  /** TPC-H Q1-style aggregate: map-side partial agg then 6-group final. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_discount") <= lit(0.08))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 1) AS DOUBLE)").as("sum_base"),
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 1) AS DOUBLE)").as("sum_disc"),
        count(lit(1)).as("cnt"))

  /** Row-level filter + projection; predicate and the two-column read
    * schema must both reach the parquet scan (PushedFilters). */
  def scanFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_quantity") >= lit(45.0) && col("l_discount") > lit(0.07))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))

  /** Fact-to-dim join: orders joined to customer, grouped by segment.
    * customer is small relative to orders -> broadcast at scale. */
  def joinCustOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        countDistinct("c_custkey").as("n_cust"),
        count(lit(1)).as("n_orders"),
        expr("CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 1) AS DOUBLE)").as("revenue"))

  /** Star join across 4 tables; every dimension broadcast, so the only
    * shuffle is the final aggregation on (r_name, n_name). */
  def joinMulti(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"), expr("CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 1) AS DOUBLE)").as("revenue"))

  /** Top-k by ordered limit — Spark's TakeOrderedAndProject keeps only k
    * rows per partition then merges, no global sort materialized. */
  def topkParts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      .limit(10)
      .select("p_partkey", "p_name", "p_retailprice")

  /** Window function: top-3 orders per customer by totalprice. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
  }

  /** Distinct aggregation per group (expands to two-phase agg). */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct("l_partkey").as("n_parts"),
        countDistinct("l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** Tumbling-hour aggregation over the events stream table (batch
    * equivalent of the streaming windowed count). */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))

  /** SLIDING-window aggregation (1 h windows every 30 min): each event
    * lands in exactly two overlapping windows. Spark's window() expands
    * rows windows-per-event BEFORE the partial aggregate — the same
    * one-shuffle shape as the tumbling twin, just 2x the partial rows.
    * Completes the windowing family: tumbling (#22), sliding (this),
    * session (#23 / streaming). */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization: a new session starts when a user is idle
    * > 30 min. Window lag + running sum, partitioned by user, so at
    * scale this shuffles once on user_id. */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    t(spark, dir, "events")
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .withColumn("session_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("sess_start"),
        max("ts").as("sess_end"),
        round(sum("value"), 4).as("sum_value"))
  }

  /** JSON extraction from the events props column + aggregation. */
  def eventsJson(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"),
        count(col("k")).as("__nk"))
      // avg over NON-NULL k (avg() semantics), as the exact idiom
      .withColumn("avg_k", expr(graft.functions.Exact.rate6("sum_k", "__nk")))
      .drop("__nk")

  /** Left anti join: customers with no large order (every customer has
    * SOME order in the testdata, so the predicate keeps the result
    * non-trivial). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey") && col("o_totalprice") > 300000.0,
        "left_anti")
      .select("c_custkey", "c_name")

  /** Left semi join: suppliers that shipped at least one lineitem. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "supplier")
      .join(t(spark, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")

  /** ROLLUP hierarchy totals (region -> nation -> grand total), via the
    * SQL API (DataFrame .rollup over this join trips Spark's ambiguous
    * self-join attribute check in the Expand it generates). */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "o_totalprice")
      .createOrReplaceTempView("rollup_src")
    spark.sql(
      """SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
        |  count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,2))), 1) AS DOUBLE) AS revenue
        |FROM rollup_src GROUP BY ROLLUP(r_name, n_name)""".stripMargin)
  }

  /** Exact interpolated percentiles per group — computed by the
    * bounded-state refinement engine (Quantiles), not the built-in
    * `percentile` aggregate whose single buffer holds every distinct
    * value on one reducer. Results are bitwise-identical; the plan is
    * three bounded-cardinality groupBy passes instead of one
    * unbounded-state aggregation. */
  def percentileQty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val melted = t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("stack(2, 'qty', l_quantity, 'price', l_extendedprice) as (m, v)"))
      .select(concat_ws("|", col("l_returnflag"), col("m")).as("g"), col("v"))
    val qs = Quantiles.grouped(melted, "g", "v", Seq(0.5, 0.9))
    val flags = qs.keys.map(_.split('|')(0)).toSeq.distinct.sorted
    flags.map(f => (f, qs(s"$f|qty")(0.5), qs(s"$f|qty")(0.9), qs(s"$f|price")(0.5)))
      .toDF("l_returnflag", "p50", "p90", "price_p50")
      .select(col("l_returnflag"), round(col("p50"), 6).as("p50"),
        round(col("p90"), 6).as("p90"), round(col("price_p50"), 6).as("price_p50"))
  }

  /** As-of join composed Spark-first (no inequality join): attribute
    * each error event to the user's most recent click at-or-before it,
    * via one partitioned window with last(ignoreNulls) — a single
    * shuffle on user_id, the scalable as-of shape. */
  def eventsAsof(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "events")
      .withColumn("last_click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .withColumn("last_click_value",
        last(when(col("event_type") === "click", col("value")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error" && col("last_click_ts").isNotNull)
      .select("event_id", "user_id", "ts", "last_click_ts", "last_click_value")
  }

  /** Skew-safe two-phase (salted) aggregation: partial agg on
    * (key, salt) spreads a hot key over 16 reducers, final agg merges.
    * Result is identical to the direct aggregation — the oracle IS the
    * unsalted query. */
  def aggSalted(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("c"), sum("value").as("s"))
      .groupBy("event_type")
      .agg(sum("c").as("n_events"), round(sum("s"), 4).as("sum_value"))

  /** Set operations: building-segment customers who never placed a
    * medium order, plus (distinct union) machinery-segment customers
    * who did. EXCEPT/INTERSECT/UNION distinct semantics. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
    val building = cust.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val machinery = cust.filter(col("c_mktsegment") === "MACHINERY").select("c_custkey")
    val bigBuyers = orders.filter(col("o_totalprice") > 150000.0)
      .select(col("o_custkey").as("c_custkey"))
    // .distinct() mirrors SQL UNION (Dataset.union is UNION ALL)
    building.except(bigBuyers).union(machinery.intersect(bigBuyers)).distinct()
  }

  /** Per-customer top-3 orders through the CUSTOM TopKPerKey physical
    * operator (graft.plans) — one hash shuffle, bounded k-row buffers,
    * no per-group full sort. The oracle is the declarative window
    * formulation, so the custom exec is verified row-for-row. */
  def topkPerKey(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey(
      t(spark, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), "o_totalprice", "o_orderkey", 3)

  /** Distributional statistics per group (sample variance / stddev). */
  def aggStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(avg("l_quantity"), 6).as("mean_qty"),
        round(var_samp("l_quantity"), 4).as("var_qty"),
        round(stddev_samp("l_extendedprice"), 2).as("sd_price"))

  /** Full CUBE over two dimensions — every subtotal combination in one
    * pass (partial-aggregated like any groupBy; the dims are never
    * null in the data, so coalesce labels the subtotal rows). */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 1) AS DOUBLE)").as("revenue"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("n"), col("revenue"))

  /** GROUPING SETS with an explicit set list — the general form under
    * rollup/cube: exactly the requested combinations (by flag, by
    * status, grand total), one pass, no unneeded subtotal rows.
    * grouping() disambiguates a real NULL from a subtotal row. */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("__gs_lineitem")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 1) AS DOUBLE) AS revenue
        |FROM __gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
  }

  /** Pivot (long -> wide) with an explicit value list, so the output
    * schema is static and the plan is a single conditional aggregation
    * — no distinct-values pre-pass. */
  def pivotQty(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum("l_quantity"), 2))

  /** Skew-safe SALTED fact-fact join: the build side is replicated
    * SALT ways and the probe side hashes into a salt, so one hot join
    * key spreads over SALT reducers instead of one straggler — the
    * standard remedy when AQE's skew split cannot kick in. Oracle =
    * the plain (unsalted) join, proving salting changes the plan, not
    * the result. */
  private val JOIN_SALT = 8

  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .withColumn("salt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(JOIN_SALT)).cast("int"))
    // shuffle_hash hint: at test scale Spark would broadcast the
    // replicated side (where salting is moot); the hint keeps the
    // shuffle path this operator exists to de-skew
    val ord = t(spark, dir, "orders")
      .withColumn("salt", explode(sequence(lit(0), lit(JOIN_SALT - 1))))
      .hint("shuffle_hash")
    li.join(ord,
        li("l_orderkey") === ord("o_orderkey") && li("salt") === ord("salt"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 1) AS DOUBLE)").as("sum_price"))
  }

  /** Approximate distinct (HyperLogLog++) next to the exact count —
    * the 100 TB cardinality path (constant memory per group vs a
    * distinct shuffle). HLL sketches are engine-specific, so this is
    * a rows-only entry; ApproxDistinctSpec bounds the relative error
    * against the exact value. */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id")).as("approx_users"))

  /** Approximate percentile (Greenwald-Khanna sketch, rank error
    * <= 1/accuracy) next to the exact interpolated percentile — the
    * sketch is one mergeable pass; the exact side comes from the
    * bounded-state refinement engine (Quantiles), so neither column
    * needs unbounded aggregation state. Sketch merges are
    * partitioning-dependent -> rows-only; spec bounds the error. */
  def percentileApproxQty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = t(spark, dir, "lineitem")
    val exact = Quantiles.grouped(
      li.select(col("l_returnflag").as("g"), col("l_extendedprice").as("v")),
      "g", "v", Seq(0.5))
    val exDf = exact.toSeq.map { case (g, m) => (g, m(0.5)) }
      .toDF("l_returnflag", "p50_exact")
    li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_approx"))
      .join(broadcast(exDf), "l_returnflag")
  }

  /** Three-step event funnel (view -> click -> purchase): per user,
    * the earliest greedy chain — first view, first click AFTER that
    * view, first purchase AFTER that click — plus the depth reached.
    * The product-analytics staple over an event stream.
    *
    * Scale shape: a ladder of FILTERED min-aggregations, each a
    * partial-agg shuffle over only that step's events (the event-type
    * filter reaches the scan), with the previous step's tiny per-user
    * result joined back. No per-user event list is ever materialized,
    * so a user with millions of events costs one running min per step
    * — unlike a collect-and-walk formulation. */
  def funnel(ev: DataFrame, step1: String, step2: String, step3: String): DataFrame = {
    val s1 = ev.filter(col("event_type") === step1)
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === step2).join(s1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === step3).join(s2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        (lit(1) + when(col("t2").isNotNull, 1).otherwise(0)
          + when(col("t3").isNotNull, 1).otherwise(0)).as("depth"))
  }

  def eventsFunnel(spark: SparkSession, dir: String): DataFrame =
    funnel(t(spark, dir, "events"), "view", "click", "purchase")

  /** Daily cohort retention: users grouped by their FIRST event day;
    * for every (cohort, day-offset) the fraction of the cohort active
    * that day — the D1/D7/D30 dashboard behind every growth report.
    *
    * Scale shape: the cohort map is one min-aggregation per user (tiny
    * result, co-partitioned join back on user_id); the retention grid
    * is a distinct + one partial-agg shuffle on (cohort, offset). No
    * window, no per-user event list. */
  def retention(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), to_date(col("ts")).as("day"))
    val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort"))
    val sizes = cohorts.groupBy("cohort").agg(countDistinct("user_id").as("n_cohort"))
    ev.join(cohorts, "user_id")
      .select(col("user_id"), col("cohort"), datediff(col("day"), col("cohort")).as("offset"))
      .distinct()
      .groupBy("cohort", "offset")
      .agg(countDistinct("user_id").as("n_active"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("offset"), col("n_active"), col("n_cohort"),
        expr(graft.functions.Exact.rate6("n_active", "n_cohort")).as("retention"))
  }

  def eventsRetention(spark: SparkSession, dir: String): DataFrame =
    retention(t(spark, dir, "events"))

  /** Sliding row-frame moving average: per user, avg of the last 4
    * event values (3 preceding + current) in (ts, event_id) order —
    * the window-FRAME operator (events_sliding covers time-bucket
    * windows; this covers row frames). One hash shuffle on user_id,
    * per-partition sort, bounded 4-row frame state. */
  def eventsMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("ma4", round(avg("value").over(w), 6))
      .select("user_id", "event_id", "ma4")
  }

  /** Last-touch conversion attribution: each purchase is credited to
    * the immediately preceding event of the same user (the classic
    * marketing-attribution shape; first/linear-touch are window-frame
    * variants of the same plan). One window pass partitioned on
    * user_id — at scale that is a single hash-partitioned sort per
    * user shard, no self-join of events against events, no per-user
    * event-list collection — then a tiny partial-aggregated rollup
    * by the credited type. */
  /** Time-BOUNDED conversion funnel: view -> click within 30 min ->
    * purchase within 30 min of the click — the product-analytics
    * semantics the unbounded min-ladder funnel (events_funnel) can't
    * express: a click hours after the view is not a converted step.
    * Each step is one co-partitioned equi-join of the events scan
    * against the previous step's tiny per-user frame (no events x
    * events self-join, no per-user event-list collection), then a
    * 1-row count rollup per step. */
  def eventsFunnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 30 MINUTES"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL 30 MINUTES"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    s1.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(broadcast(s2.agg(count(lit(1)).as("n_clicked_30m"))))
      .crossJoin(broadcast(s3.agg(count(lit(1)).as("n_purchased_30m"))))
  }

  /** Conversion-lag distribution: minutes from each user's first view
    * to their first subsequent purchase, summarized by exact
    * interpolated quartiles through the bounded-state quantile engine
    * (its eighth consumer — never a single-buffer percentile). Two
    * tiny per-user min-aggregates define the lag; the engine folds
    * the user-bounded lag set. Lags are exact epoch-second
    * differences divided once by 60. */
  def eventsConversionLag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = t(spark, dir, "events").select("user_id", "event_type", "ts")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_buy"), min("t_view").as("t_view2"))
    val lags = p.select(col("user_id"),
      ((unix_timestamp(col("t_buy")) - unix_timestamp(col("t_view2"))).cast("double") / 60.0)
        .as("lag_min"))
    val (qs, n) = Quantiles.exactWithCount(lags, "lag_min", Seq(0.25, 0.5, 0.75))
    // no converting user: n = 0 and NULL quartiles, as quantile_cont gives
    Seq((n, qs.get(0.25), qs.get(0.5), qs.get(0.75)))
      .toDF("n_converting_users", "p25", "p50", "p75")
      .select(col("n_converting_users"),
        round(col("p25"), 6).as("p25"), round(col("p50"), 6).as("p50"),
        round(col("p75"), 6).as("p75"))
  }

  /** Velocity rule (the fraud/abuse-detection primitive): for each
    * event, the count of the SAME user's events in the trailing
    * 5 minutes — a RANGE frame on epoch seconds, so the window is
    * time-true regardless of how many rows land in it — flagged when
    * the rate clears the threshold. One user-partitioned window, the
    * flag a codegen'd comparison; the report rolls up per user so the
    * output is user-bounded. */
  def eventsVelocity(spark: SparkSession, dir: String,
                     windowSec: Long = 300, threshold: Long = 5): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(unix_timestamp(col("ts")))
      .rangeBetween(-windowSec, 0)
    t(spark, dir, "events")
      .withColumn("n_5m", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max("n_5m").as("peak_5m"),
        sum(when(col("n_5m") > threshold, 1L).otherwise(0L)).as("n_flagged"))
  }

  /** Fulfillment-latency histogram: weeks between order placement and
    * line shipment, one co-partitioned fact-fact equi-join on the
    * order key (both sides shuffle on the same key once — at scale
    * the natural bucketing key for both tables) into a bounded
    * week-bucket rollup. Bucket arithmetic floors a double division
    * identically in both engines (negative-safe, unlike integer
    * division whose truncation direction differs). */
  def shipLatency(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(floor(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
        / 7.0).cast("long").as("week_bucket"))
      .agg(count(lit(1)).as("n_lines"))

  /** The full TPC-H Q1 pricing summary (all eight aggregate columns
    * with the discount/tax arithmetic), completing the simplified
    * `q1_agg` head: one predicate-pushed scan, one partial-aggregated
    * groupBy on a 4-group key — the canonical "does partial
    * aggregation carry the whole query" probe. Money sums round at
    * 1 dp and averages at 4/6 dp (the established double-sum
    * convention; group sums are ~1e8 with ~1e-7 accumulated error). */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1998-09-03 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 1).as("sum_qty"),
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 1) AS DOUBLE)").as("sum_base_price"),
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 1) AS DOUBLE)").as("sum_disc_price"),
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2))) * (1.0 + CAST(l_tax AS DECIMAL(4,2)))), 1) AS DOUBLE)").as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** TPC-H Q3 shape — shipping-priority top-k: the revenue of each
    * as-yet-unshipped order in one market segment, top 10. The classic
    * selective-star + top-k composite: customer filters to ~1/5 of a
    * DIMENSION and broadcasts; orders prunes against it BEFORE the
    * only real shuffle (the orderkey join with lineitem — at scale the
    * co-partitioned/bucketed pair, §5); revenue sums DECIMAL-exact per
    * the round-13 money rule; the final top 10 is TakeOrderedAndProject
    * (per-partition heaps, no global sort). Ordering is a total order
    * (revenue DESC, o_orderdate ASC, l_orderkey ASC), so the result
    * set is deterministic and fully oracled. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1997-06-01 00:00:00").cast("timestamp")
    val cust = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") < cut)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > cut)
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)")
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
  }

  /** TPC-H Q18 shape — large-order customers: orders whose total line
    * quantity exceeds a threshold, with customer attribution, top 100
    * by order value. Completes the classic decision-support trio next
    * to Q1 (pure aggregate) and Q3 (selective star + top-k): this one
    * is the aggregate-HAVING + join pattern — the qualifying-key set
    * comes from a partial-aggregated groupBy on the FACT table and
    * joins back to orders ON THE SAME KEY (orderkey-to-orderkey: the
    * co-partitioned/bucketed pair at scale, §5 — no broadcast of a
    * potentially unbounded qualifying set), customer broadcasts, and
    * the top 100 is TakeOrderedAndProject over a total order.
    * l_quantity is integral (INT-EXACT per AUDIT_ROUND6), so sum_qty
    * is exact in both engines with no decimal machinery. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val qty = t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"))
      .filter(col("sum_qty") > 200.0)
    t(spark, dir, "orders")
      .join(qty, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select("c_custkey", "c_mktsegment", "o_orderkey", "o_orderdate",
        "o_totalprice", "sum_qty")
  }

  /** TPC-H Q6 shape — the forecasting-revenue-change probe: zero joins,
    * one predicate-pushed scan (date range + discount band + quantity
    * cap ALL reach the parquet scan as PushedFilters) into a single-row
    * aggregate. The canonical "is the scan doing the work" query: at
    * 100 TB this reads only the shipdate-pruned partitions and the four
    * referenced columns. Revenue = sum(extendedprice * discount) is
    * DECIMAL-exact per the round-13 money rule. */
  def q6RevenueDelta(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp")
        && col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07)
        && col("l_quantity") < lit(24.0))
      .agg(
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)")
          .as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q4 shape — order-priority checking: how many orders placed
    * in a half-year window had at least one line shipped more than 90
    * days after the order date, per priority. The EXISTS becomes a
    * LEFT-SEMI equi-join on the order key with the lateness predicate
    * as a join-side filter — the semi join keeps each qualifying order
    * exactly once regardless of how many late lines it has, and at
    * scale it is the co-partitioned orderkey-to-orderkey pair (§5)
    * with no row amplification. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1997-07-01 00:00:00").cast("timestamp"))
    val li = t(spark, dir, "lineitem").select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  /** TPC-H Q14 shape — promo revenue share per ship month of 1996: the
    * conditional-aggregate + ratio pattern. part is a broadcast
    * dimension; the only shuffle is the 12-group month rollup. The
    * share is computed with the waste_frac discipline (Mix.scala): both
    * money sums are exact DECIMAL(38,4) values, scaled to exact integer
    * ten-thousandths, and the 6-dp share comes from an exact integer
    * HALF_UP division — no binary-double quotient ever reaches a
    * round(), so the result is host- and engine-invariant. DECIMAL(38)
    * arithmetic keeps the 2e6-scaled numerator overflow-safe at any SF
    * (the DuckDB mirror runs HUGEINT). */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .join(broadcast(t(spark, dir, "part").select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(month(col("l_shipdate")).as("ship_month"))
      .agg(
        expr("""sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))
                ELSE CAST(0.0 AS DECIMAL(20,4)) END)""").as("promo"),
        expr("sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2))))")
          .as("tot"),
        count(lit(1)).as("n_lines"))
      .select(col("ship_month"), col("n_lines"),
        col("promo").cast("double").as("promo_revenue"),
        col("tot").cast("double").as("total_revenue"),
        expr("""CAST((2 * CAST(promo * 10000 AS DECIMAL(38,0)) * 1000000
                     + CAST(tot * 10000 AS DECIMAL(38,0)))
                 DIV (2 * CAST(tot * 10000 AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0""")
          .as("promo_share"))

  /** TPC-H Q19 shape — disjunctive brand/size/quantity predicate over
    * lineitem ⋈ part: the OR-of-conjunctions probe (can the optimizer
    * keep a broadcast hash join and evaluate the disjunction post-join
    * rather than falling to a nested loop). part broadcasts; one-row
    * DECIMAL-exact revenue output. */
  def q19BrandQuantity(spark: SparkSession, dir: String): DataFrame = {
    val p = broadcast(t(spark, dir, "part").select("p_partkey", "p_brand", "p_size"))
    val arm = (brand: String, sizeHi: Int, qLo: Double, qHi: Double) =>
      col("p_brand") === brand &&
        col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qLo, qHi)
    t(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(arm("Brand#13", 5, 1.0, 11.0)
        || arm("Brand#20", 10, 10.0, 20.0)
        || arm("Brand#23", 15, 20.0, 30.0))
      .agg(
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)")
          .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q12 shape — shipping-latency priority matrix: per latency
    * class (late = shipped more than 90 days after the order date),
    * how many lineitems belong to critical-priority orders (1-URGENT /
    * 2-HIGH) vs the rest — the conditional-aggregate (CASE inside
    * sum) + fact-fact join pattern. One orderkey shuffle (§5
    * co-partitioned pair), two-row output. */
  def q12PriorityLatency(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .select("l_orderkey", "l_shipdate")
      .join(t(spark, dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        lit("late")).otherwise(lit("ontime")).as("latency_class"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("n_critical"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("n_other"))

  /** TPC-H Q10 shape — returned-item reporting: the 20 customers who
    * returned the most revenue in a quarter, with nation attribution.
    * lineitem(returnflag)⋈orders is the one fact-fact shuffle (the §5
    * co-partitioned orderkey pair); customer and nation broadcast; the
    * top 20 is TakeOrderedAndProject over the total order
    * (revenue DESC, c_custkey ASC). */
  def q10ReturnedCustomers(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-07-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1997-10-01 00:00:00").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_mktsegment", "n_name")
      .agg(expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)")
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q13 shape — customer order-count distribution: how many
    * customers placed exactly k orders, INCLUDING k = 0 (the LEFT
    * join + two-level aggregation pattern; the zero bucket is the part
    * a naive inner-join rollup silently loses). customer LEFT JOINs
    * orders on the broadcastable dimension side; both aggregations are
    * partial-agg shuffles on bounded keys. */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select("c_custkey")
      .join(t(spark, dir, "orders").select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips NULLs
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q15 shape — top supplier(s) by quarterly revenue: the
    * argmax-over-aggregate pattern WITH ties kept (the spec's view +
    * max subquery). Per-supplier revenue sums DECIMAL-exact, the 1-row
    * max broadcasts back, and equality on the exact decimal keeps
    * every tied supplier — no top-1 LIMIT that would break ties
    * arbitrarily. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(expr("sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2))))")
        .as("total_rev"))
    val mx = rev.agg(max("total_rev").as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q17 shape — small-quantity-order revenue: lines of one
    * brand whose quantity is below 20% of that part's average ordered
    * quantity (the correlated-aggregate pattern: the per-part average
    * joins back on the part key — co-partitioned at scale — never a
    * correlated subquery per row). The threshold avg is the quotient
    * of an exact integral sum and a count (IEEE-deterministic in both
    * engines); revenue sums DECIMAL-exact. */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val avgQ = li.groupBy(col("l_partkey").as("p_key"))
      .agg((sum("l_quantity") / count(lit(1))).as("avg_qty"))
    val brand = broadcast(t(spark, dir, "part")
      .filter(col("p_brand") === "Brand#13").select("p_partkey"))
    li.join(brand, col("l_partkey") === col("p_partkey"))
      .join(avgQ, col("l_partkey") === col("p_key"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)")
          .as("small_qty_revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q22 shape — idle wealthy customers: customers with an
    * account balance above the average POSITIVE balance and no order
    * in the calendar's final year (every synthetic customer has SOME
    * order, so "never ordered" would be vacuous — "idle lately" keeps
    * the anti-join non-trivial), counted per nation. Two patterns
    * composed: the scalar-threshold comparison runs MULTIPLY-FORM on
    * exact decimals (balance * n_pos > total_pos — no division, so no
    * cross-engine rounding surface; Spark's raw double sum would be
    * layout-dependent), and idleness is a LEFT-ANTI join against the
    * date-pruned orders scan. acctbal sums roll up DECIMAL-exact per
    * nation. */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        expr("CAST(c_acctbal AS DECIMAL(18,2))").as("bal"))
    val pos = cust.filter(col("bal") > 0)
      .agg(sum("bal").as("total_pos"),
        count(lit(1)).cast("decimal(20,0)").as("n_pos"))
    cust.crossJoin(broadcast(pos))
      .filter(col("bal") * col("n_pos") > col("total_pos"))
      .join(t(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-09-01 00:00:00").cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("numcust"),
        expr("CAST(sum(bal) AS DOUBLE)").as("totacctbal"))
  }

  /** TPC-H Q5 shape — local-supplier volume: revenue per nation from
    * orders where the CUSTOMER and the SUPPLIER share that nation,
    * restricted to one region and one order year. The distinguishing
    * pattern vs the plain star join is the same-nation equality
    * BETWEEN two dimension foreign keys (c_nationkey = s_nationkey):
    * it rides the broadcast supplier join as an extra join-side
    * condition, so the plan stays one fact-fact orderkey shuffle (the
    * §5 co-partitioned pair) plus broadcasts — never a second shuffle
    * for the dimension-dimension constraint. Region pruning happens on
    * the broadcast customer side BEFORE the fact join. Revenue sums
    * DECIMAL-exact per the round-13 money rule. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val nat = t(spark, dir, "nation")
      .join(t(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select("n_nationkey", "n_name")
    val cust = t(spark, dir, "customer")
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey", "n_name")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_nationkey", "n_name")
    t(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "supplier").select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)")
          .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q7 shape — volume shipping between two nations: revenue of
    * goods shipped by a supplier in one nation to a customer in the
    * other, BOTH directions, split by ship year. The disjunctive
    * nation-pair predicate ((s=A and c=B) or (s=B and c=A)) evaluates
    * after the two broadcast nation joins; both fact tables prune to
    * the 2-year ship window before the single orderkey shuffle. The
    * 2x2x2-bounded rollup keys (supp_nation, cust_nation, year) make
    * the final aggregation trivially small at any SF. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val supp = t(spark, dir, "supplier")
      .join(t(spark, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = t(spark, dir, "customer")
      .join(t(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = t(spark, dir, "orders").select("o_orderkey", "o_custkey")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19")
        || (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(
        expr("CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)")
          .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q8 shape — national market share: of all STANDARD-type
    * parts sold into AMERICA-region customers over two order years,
    * the fraction of revenue supplied by NATION_3, per year. The
    * conditional-sum-over-total ratio pattern one level above Q14:
    * the numerator is a CASE-gated arm of the SAME decimal sum, and
    * the share is an exact integer HALF_UP division of the two
    * DECIMAL(38,4) masses scaled to ten-thousandths (the waste_frac
    * discipline — no binary-double quotient ever reaches a round(),
    * so the result is host- and engine-invariant; DuckDB mirrors with
    * HUGEINT). part/supplier/customer/nation all broadcast; the one
    * shuffle is lineitem⋈orders on the co-partitioned orderkey. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .join(t(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "AMERICA")
      .select("c_custkey")
    val supp = t(spark, dir, "supplier")
      .join(t(spark, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderdate")
    t(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(t(spark, dir, "part")
        .filter(col("p_type") === "STANDARD").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        expr("""sum(CASE WHEN supp_nation = 'NATION_3'
                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))
                ELSE CAST(0.0 AS DECIMAL(20,4)) END)""").as("nat"),
        expr("sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2))))")
          .as("tot"),
        count(lit(1)).as("n_lines"))
      .select(col("o_year"), col("n_lines"),
        col("nat").cast("double").as("nation_revenue"),
        col("tot").cast("double").as("total_revenue"),
        expr("""CAST((2 * CAST(nat * 10000 AS DECIMAL(38,0)) * 1000000
                     + CAST(tot * 10000 AS DECIMAL(38,0)))
                 DIV (2 * CAST(tot * 10000 AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0""")
          .as("mkt_share"))
  }

  /** Order-vs-lineitem reconciliation — the classic two-table data-
    * quality audit (does the order header's total agree with the sum
    * of its lines?): per priority class, how many orders have NO
    * lines, and how the derived/header ratio distributes across
    * multiply-form bands. Every comparison runs on exact integer
    * ten-thousandths (the q22 MULTIPLY-FORM trick: 2d < t etc. — no
    * division, no rounding surface), the derived total is a
    * DECIMAL(38,4)-exact money sum, and all outputs are INT-EXACT
    * counters. The one shuffle is the §5 co-partitioned orderkey
    * fact-fact pair; the rollup keys are bounded (5 priorities). */
  def ordersReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(expr("sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2))))")
        .as("net"))
    t(spark, dir, "orders")
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("d", expr("CAST(net * 10000 AS DECIMAL(38,0))"))
      .withColumn("tt", expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 10000 AS DECIMAL(38,0))"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("d").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("d").isNotNull && col("d") * 2 < col("tt"), 1L).otherwise(0L))
          .as("n_under_half"),
        sum(when(col("d").isNotNull && col("d") * 2 >= col("tt")
          && col("d") < col("tt"), 1L).otherwise(0L)).as("n_half_to_1x"),
        sum(when(col("d").isNotNull && col("d") >= col("tt")
          && col("d") < col("tt") * 2, 1L).otherwise(0L)).as("n_1x_to_2x"),
        sum(when(col("d").isNotNull && col("d") >= col("tt") * 2, 1L).otherwise(0L))
          .as("n_over_2x"))
  }

  def eventsAttribution(spark: SparkSession, dir: String): DataFrame =
    attributionOf(t(spark, dir, "events"))

  /** The attribution rollup over any events-shaped frame. */
  def attributionOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.withColumn("touch_type", lag("event_type", 1).over(w))
      .filter(col("event_type") === "purchase" && col("touch_type").isNotNull)
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_conversions"),
        round(sum("value"), 4).as("attributed_value"))
  }

  /** Markov next-event transition matrix: P(next event type | event
    * type) from each user's (ts, event_id)-ordered event sequence —
    * the first-order behavioral model product analytics ships (and a
    * sequence-training sanity report). One hash shuffle on user_id for
    * the lead() window, then a partial-agg shuffle on the tiny
    * (from, to) key space; the per-from totals join is broadcast. */
  def transitionsOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = ev
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("event_type").agg(sum("n").as("total"))
    pairs.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("next_type"), col("n"),
        expr(graft.functions.Exact.rate6("n", "total")).as("p"))
  }

  def eventsTransitions(spark: SparkSession, dir: String): DataFrame =
    transitionsOf(t(spark, dir, "events"))

  /** Stationary distribution of the next-event Markov chain — where
    * user behavior settles in the long run, the one-number-per-state
    * summary on top of the transition matrix. The matrix is BOUNDED
    * model state (|event types|^2 probabilities), so after the one
    * distributed pass that builds it (the same rounded-6 transition
    * frame events_transitions ships), 15 power-iteration sweeps with
    * per-sweep renormalization run on the driver — the kmeans-oracle
    * discipline: every sweep's values round at 6 in BOTH engines, so
    * the unrolled SQL mirror tracks the driver loop step for step.
    * Per-sweep 5-term sum order is the §4-documented sub-ulp risk. */
  def qMarkovStationary(spark: SparkSession, dir: String,
                        sweeps: Int = 15): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val pRows = transitionsOf(t(spark, dir, "events"))
      .select("event_type", "next_type", "p").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val states = pRows.keys.map(_._1).toSeq.distinct.sorted
    var pi = states.map(_ => r6(1.0 / states.length)).toArray
    for (_ <- 1 to sweeps) {
      val raw = states.map { j =>
        states.zipWithIndex.map { case (i, ii) =>
          pi(ii) * pRows.getOrElse((i, j), 0.0)
        }.sum
      }.toArray
      val tot = raw.sum
      pi = raw.map(x => r6(x / tot))
    }
    states.zip(pi).toDF("event_type", "pi")
  }

  /** Absorption sweeps for the removal-effect chain (enough for the
    * bounded state space to converge well past round-6). */
  private val ATTR_SWEEPS = 30

  /** Markov removal-effect attribution (the data-driven
    * multi-touch model from the public marketing-attribution
    * literature, next to the last-touch report): build each user's
    * journey START -> touches -> first purchase (CONV) or stream end
    * (NULL), estimate the transition matrix, and credit each channel
    * by how much the journey-level conversion probability DROPS when
    * paths through that channel are severed (transitions INTO the
    * removed channel land in NULL). Conversion probability =
    * absorption into CONV from START, iterated ATTR_SWEEPS times.
    *
    * Scale shape: journeys and transition counts are two windows +
    * one bounded (from, to) aggregate over the fact table — the
    * events_transitions plan; everything after runs on the driver
    * over the |states|^2 matrix (the markov_stationary discipline:
    * every sweep's values round 6 in both engines, the per-state
    * <= |states|-term sum order being the documented §4 sub-ulp
    * risk). Output per channel: the full-chain conversion
    * probability, the severed-chain one, the removal effect
    * 1 - removed/full, and the effect's normalized share. */
  def qAttributionMarkov(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // ONE window lineage carries everything: rn + nxt on the running
    // frame, and the journey cut (the user's first-purchase rank) as
    // a whole-partition min over the SAME partitioning/sort — no
    // self-join, so the user-sort is paid once. Full-frame lead is
    // identical to truncated-frame lead on every row the transition
    // builder reads (rows truncate AT the first purchase, so every
    // kept non-purchase row's successor is also kept).
    val j = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .withColumn("nxt", lead("event_type", 1).over(w))
      .withColumn("cut", min(when(col("event_type") === "purchase", col("rn")))
        .over(Window.partitionBy("user_id")))
      .filter(col("cut").isNull || col("rn") <= col("cut"))
    // each row emits its (from, to) contributions in ONE pass — a
    // steps-UNION-starts formulation re-derives the whole window
    // lineage once per branch
    val counts = j.select(explode(array(
        when(col("event_type") =!= "purchase", struct(
          col("event_type").as("from_state"),
          when(col("nxt").isNull, "NULL")
            .when(col("nxt") === "purchase", "CONV")
            .otherwise(col("nxt")).as("to_state"))),
        when(col("rn") === 1, struct(
          lit("START").as("from_state"),
          when(col("event_type") === "purchase", "CONV")
            .otherwise(col("event_type")).as("to_state"))))).as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.from_state").as("from_state"), col("e.to_state").as("to_state"))
      .groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_state").agg(sum("n").as("total"))
    val tm = counts.join(totals, "from_state")
      .select(col("from_state"), col("to_state"),
        expr(graft.functions.Exact.rate6("n", "total")).as("p"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val froms = tm.keys.map(_._1).toSeq.distinct
    val states = (tm.keys.map(_._1) ++ tm.keys.map(_._2)).toSeq.distinct.sorted
    val channels = froms.filter(_ != "START").sorted
    // The oracle encodes the UNSEVERED chain with the sentinel removed-
    // label 'none' (and synthesizes 'START'/'CONV'/'NULL' states); an
    // event_type literally named one of those would be severed by the
    // oracle's `to_state != removed` join while this Option-based
    // removal keeps it — refuse such adversarial data instead of
    // silently diverging cross-engine.
    locally {
      val sentinels = Set("none", "START", "CONV", "NULL")
      channels.foreach(c => require(!sentinels(c),
        s"event_type '$c' collides with a reserved Markov sentinel state"))
    }
    def absorb(removed: Option[String]): Double = {
      var v = states.map {
        case "CONV" => 1.0
        case _ => 0.0
      }.toArray
      for (_ <- 1 to ATTR_SWEEPS) {
        v = states.zipWithIndex.map { case (s, si) =>
          if (s == "CONV") 1.0
          else if (s == "NULL") 0.0
          else r6(states.zipWithIndex.map { case (t2, ti) =>
            if (removed.contains(t2)) 0.0
            else tm.getOrElse((s, t2), 0.0) * v(ti)
          }.sum)
        }.toArray
      }
      v(states.indexOf("START"))
    }
    val convFull = absorb(None)
    val effects = channels.map { c =>
      val convRem = absorb(Some(c))
      (c, convRem, r6(1.0 - convRem / convFull))
    }
    val totEff = effects.map(_._3).sum
    effects.map { case (c, convRem, eff) =>
      (c, convFull, convRem, eff, r6(eff / totEff))
    }.toDF("channel", "conv_full", "conv_removed", "removal_effect",
      "attribution_share")
  }

  /** Per-user EWMA of event values over a 10-row trailing window
    * (alpha = 0.5). The recursion s_t = a*x_t + (1-a)*s_(t-1), seeded
    * with the frame's oldest value, runs as the SAME left fold in both
    * engines (Spark `aggregate`, DuckDB `list_reduce` — accumulator
    * first, first element as init), so every intermediate IEEE op
    * matches bitwise; a closed-form sum would be at the mercy of each
    * engine's summation order. And BECAUSE it matches bitwise, the
    * result ships UNROUNDED: dyadic alpha makes the fold land exactly
    * on decimal .5 boundaries with real probability, where the two
    * engines' round() tie rules disagree — rounding would break the
    * match that exact arithmetic already guarantees. One hash shuffle
    * on user_id; frame state is bounded at 10 rows. slice(xs, 2, n-1)
    * is empty for single-row frames, where aggregate returns the init
    * unchanged. */
  def ewmaOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    ev.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("xs", collect_list("value").over(w))
      .withColumn("ewma",
        expr("aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1), " +
          "(acc, x) -> 0.5D * x + 0.5D * acc)"))
      .select("user_id", "event_id", "ewma")
  }

  def eventsEwma(spark: SparkSession, dir: String): DataFrame =
    ewmaOf(t(spark, dir, "events"))

  /** One-sided CUSUM drift statistic (Page's cumulative-sum control
    * chart, from the public SPC literature): per event,
    * S_t = max(0, S_{t-1} + (x_t - mu)) folded over the user's
    * trailing 50 events — the detector that accumulates small
    * persistent shifts a per-point z-score never flags. mu is the
    * user's own mean, rounded 6 so the fold inputs are bit-identical
    * cross-engine; the recursion then runs as the SAME left fold in
    * both engines (the EWMA discipline — aggregate here, list_reduce
    * there), so the statistic ships UNROUNDED. Bounded frame state
    * (50 rows), one user-partitioned window after one broadcast of
    * per-user means. */
  def cusumOf(ev: DataFrame): DataFrame = {
    val mu = ev.groupBy("user_id").agg(round(avg("value"), 6).as("mu"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-49, Window.currentRow)
    ev.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .join(broadcast(mu), "user_id")
      .withColumn("xs", collect_list("value").over(w))
      .withColumn("cusum",
        expr("aggregate(xs, 0D, (acc, x) -> greatest(0D, acc + (x - mu)))"))
      .select("user_id", "event_id", "cusum")
  }

  def eventsCusum(spark: SparkSession, dir: String): DataFrame =
    cusumOf(t(spark, dir, "events"))

  /** Lag depth for the autocorrelation report (one full day of hourly
    * lags — where daily seasonality shows up as a peak at 24). */
  private val ACF_LAGS = 24

  /** Autocorrelation function of the hourly event-count series:
    * Pearson correlation of count(t) against count(t - lag) for lags
    * 1..24 — the periodicity diagnostic read before picking a
    * seasonal-naive offset or an anomaly baseline (a peak at 24 says
    * the series repeats daily). The series itself is one partial-agg
    * groupBy on the integer hour index; the lag pairing is a
    * self-join of that BOUNDED frame (hours, not events) exploded by
    * lag, so the event table is scanned exactly once regardless of
    * lag depth. corr aggregates round 6 like every cross-engine
    * aggregated double (§4). */
  def eventsAcf(spark: SparkSession, dir: String): DataFrame = {
    val series = t(spark, dir, "events")
      .groupBy(expr("cast(unix_timestamp(date_trunc('hour', ts)) div 3600 as bigint)")
        .as("hb"))
      .agg(count(lit(1)).as("n"))
    series.select(col("hb"), col("n").as("n0"),
        explode(expr(s"sequence(1, $ACF_LAGS)")).as("lag"))
      .withColumn("hb2", col("hb") - col("lag"))
      .join(series.select(col("hb").as("hb2"), col("n").as("nl")), Seq("hb2"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("n0").cast("double"), col("nl").cast("double")), 6).as("acf"))
  }

  /** Fixed-width histogram of l_extendedprice — 5k-wide buckets, open
    * top bucket. No width_bucket builtin needed: floor((x-lo)/w) is
    * codegen'd arithmetic, one partial-agg shuffle on the bucket id. */
  def histPrice(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select((least(floor(col("l_extendedprice") / 5000.0), lit(21.0)))
        .cast("int").as("bucket"), col("l_extendedprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min("l_extendedprice"), 2).as("lo"),
        round(max("l_extendedprice"), 2).as("hi"))

  /** Temporal (point-in-time) join: each purchase event picks up the
    * account state (last signup/error marker) in effect AT ITS
    * TIMESTAMP — the SCD-2 dimension lookup every warehouse needs. A
    * naive `f.ts BETWEEN s.valid_from AND s.valid_to` join plans a
    * nested loop over the fact table (the oracle runs exactly that
    * formulation to pin the semantics); the scale shape is the as-of
    * union-window: state and fact rows interleave in one (user, time)
    * sort and last_value(ignoreNulls) carries the current state onto
    * each fact — ONE hash shuffle on user_id, no join at all. State
    * rows sort before facts at equal timestamps (kind 0 < 1), so a
    * state applies from its own instant. */
  def eventsTemporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val states = ev.filter(col("event_type").isin("signup", "error"))
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(0).as("kind"), col("event_type").as("status"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(1).as("kind"), lit(null).cast("string").as("status"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    states.unionByName(facts)
      .withColumn("status_at", last("status", ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts"), col("status_at"))
  }

  /** Rolling 7-day active users per day — the WAU curve. EXACT
    * distinct-across-a-sliding-window without any window distinct
    * (not expressible) and without 7 self-joins: each (day, user)
    * distinct pair replicates to the 7 window-end dates it supports
    * (a static explode), then one distinct-agg per window-end date.
    * Cost is 7x the per-day distinct pairs — linear, partial-agged,
    * and the blowup factor is the window length, not the data. */
  def eventsRollingWau(spark: SparkSession, dir: String): DataFrame = {
    val du = t(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val maxDay = du.agg(max("day").as("__max"))
    du.select(explode(expr("sequence(0, 6)")).as("off"), col("day"), col("user_id"))
      .select(date_add(col("day"), col("off")).as("window_end"), col("user_id"))
      .crossJoin(broadcast(maxDay))
      .filter(col("window_end") <= col("__max"))
      .groupBy("window_end")
      .agg(countDistinct("user_id").as("wau"))
  }

  /** RFM customer segmentation (recency / frequency / monetary — the
    * classic warehouse cohorting): per-customer aggregates scored
    * 0-3 by quartile, customers counted per segment cell. The three
    * quartile cutoff sets come from the bounded-state exact-quantile
    * engine (Quantiles — no ntile's global sort AND no percentile's
    * single value-map buffer); recency quartiles work on epoch seconds
    * so the percentile math is numeric on both engines. The nine
    * driver-held cutoffs land as literals, so scoring is a pure
    * codegen'd projection. */
  def ordersRfm(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(unix_timestamp(max("o_orderdate")).cast("double").as("r"),
        count(lit(1)).cast("double").as("f"),
        sum("o_totalprice").as("m"))
    val cuts = Quantiles.grouped(
      per.select(expr("stack(3, 'r', r, 'f', f, 'm', CAST(m AS DOUBLE)) as (g, v)")),
      "g", "v", Seq(0.25, 0.5, 0.75))
    def score(v: String): org.apache.spark.sql.Column =
      Seq(0.25, 0.5, 0.75).map(p =>
        when(col(v) >= lit(cuts(v)(p)), 1).otherwise(0))
        .reduce(_ + _).cast("int")
    per
      .select(score("r").as("r_score"), score("f").as("f_score"),
        score("m").as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"))
  }

  /** Per-user behavioral feature vector — the feature-engineering
    * aggregate a user-model training job starts from: per-type counts
    * (static type list, so it's conditional aggregation — no pivot
    * distinct pre-pass), engagement volume, active-day count and
    * account-age span. ONE partial-aggregated shuffle on user_id
    * produces every feature; a naive pipeline computes these as
    * separate jobs and re-shuffles per feature. */
  def eventsUserFeatures(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    t(spark, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        types.map(tp =>
          sum(when(col("event_type") === tp, 1L).otherwise(0L)).as(s"n_$tp")) ++ Seq(
          round(sum("value"), 6).as("sum_value"),
          countDistinct(to_date(col("ts"))).as("n_active_days"),
          min("ts").as("first_ts"),
          max("ts").as("last_ts")): _*)
  }

  /** Equi-DEPTH histogram of l_extendedprice — quartile buckets with
    * near-equal populations, the selectivity-estimation complement to
    * the fixed-width histogram above. Same scale shape as the
    * curriculum buckets: the bounded-state exact-quantile engine
    * (Quantiles) computes the three cutoffs — no ntile, no global
    * sort, no single-buffer percentile — and each row's bucket is
    * three codegen'd comparisons against literal doubles. */
  def histPriceEquidepth(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(col("l_extendedprice").as("v"))
    val cs = Quantiles.exact(li, "v", Seq(0.25, 0.5, 0.75))
    li
      .withColumn("bucket",
        (when(col("v") >= lit(cs(0.25)), 1).otherwise(0)
          + when(col("v") >= lit(cs(0.5)), 1).otherwise(0)
          + when(col("v") >= lit(cs(0.75)), 1).otherwise(0)).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min("v"), 2).as("lo"), round(max("v"), 2).as("hi"))
  }

  /** Full outer join: high-balance customers vs high-balance suppliers
    * per nation — nations present on either side survive with NULL
    * counts coalesced to 0. Completes the join-type inventory
    * (inner/broadcast, multi-way, anti, semi, salted, as-of, outer). */
  def joinOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
    val s = t(spark, dir, "supplier").filter(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** Z-score anomaly flagging: events whose value sits more than 3
    * rounded standard deviations from its type's rounded mean — the
    * data-QC gate a pipeline runs before trusting a feed. Two-pass
    * shape: a tiny per-type stats aggregate broadcast back over one
    * corpus pass. Stats are round-6 BEFORE the comparison so the
    * cut line is identical across engines (an unrounded mu/sd differs
    * in the last ulp between Spark and the oracle). */
  def anomaly(ev: DataFrame, zThreshold: Double): DataFrame = {
    val stats = ev.groupBy("event_type")
      .agg(round(avg("value"), 6).as("mu"), round(stddev_samp(col("value")), 6).as("sd"))
    ev.join(broadcast(stats), "event_type")
      .filter(abs(col("value") - col("mu")) > lit(zThreshold) * col("sd"))
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("value") - col("mu")) / col("sd"), 6).as("z"))
  }

  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame =
    anomaly(t(spark, dir, "events"), 3.0)

  /** Point-in-interval (banded) join WITHOUT a non-equi join: value
    * bands are uniform-width, so each event computes its band id with
    * codegen'd floor arithmetic and the lookup is a broadcast
    * EQUI-join on band_id — the general scale rewrite for interval
    * joins (a naive v BETWEEN lo AND hi join plans a nested-loop over
    * the corpus; the oracle runs exactly that formulation to prove
    * the rewrite's semantics). Band edges follow floor semantics:
    * [lo, hi). */
  def eventsBanded(spark: SparkSession, dir: String): DataFrame = {
    val width = 25.0
    val bands = spark.range(0, 4).select(col("id").cast("int").as("band_id"),
      (col("id") * width).as("lo"), ((col("id") + 1) * width).as("hi"))
    t(spark, dir, "events")
      .filter(col("value") >= 0 && col("value") < 4 * width)
      .withColumn("band_id", floor(col("value") / width).cast("int"))
      .join(broadcast(bands), "band_id")
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_events"),
        round(min("lo"), 2).as("lo"), round(min("hi"), 2).as("hi"),
        round(sum("value"), 4).as("sum_value"))
  }

  /** Approximate heavy hitters via freqItems (Karp-Shenker-Papadimitriou
    * single-pass frequent-items, Spark's builtin) next to the exact
    * top user — completing the sketch family (HLL distinct, GK
    * percentile, Bloom membership, KSP frequent items). The sketch's
    * result set is engine-specific (rows-only; NewOpsSpec asserts the
    * true heavy hitter is found), but at 100 TB it replaces a full
    * groupBy-count-sort with one mergeable pass. */
  def eventsFreqItems(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val hot = ev.stat.freqItems(Seq("user_id"), 0.05)
    val exactTop = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id").asc).limit(1)
      .select(col("user_id").as("exact_top_user"), col("n").as("exact_top_n"))
    hot.crossJoin(broadcast(exactTop))
      .select(size(col("user_id_freqItems")).as("n_candidates"),
        array_contains(col("user_id_freqItems"), col("exact_top_user"))
          .as("top_user_found"),
        col("exact_top_user"), col("exact_top_n"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_freq_items" -> (eventsFreqItems _),
    "events_transitions" -> (eventsTransitions _),
    "events_attribution" -> (eventsAttribution _),
    "events_markov_stationary" -> ((s: SparkSession, d: String) => qMarkovStationary(s, d)),
    "events_attribution_markov" -> (qAttributionMarkov _),
    "events_cusum" -> (eventsCusum _),
    "q1_pricing_summary" -> (q1Pricing _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q6_revenue_delta" -> (q6RevenueDelta _),
    "q10_returned_customers" -> (q10ReturnedCustomers _),
    "q12_priority_latency" -> (q12PriorityLatency _),
    "q13_customer_distribution" -> (q13CustomerDistribution _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q17_small_quantity" -> (q17SmallQuantity _),
    "q22_idle_customers" -> (q22IdleCustomers _),
    "q14_promo_share" -> (q14PromoShare _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q8_market_share" -> (q8MarketShare _),
    "orders_reconciliation" -> (ordersReconciliation _),
    "q19_brand_quantity" -> (q19BrandQuantity _),
    "q18_large_orders" -> (q18LargeOrders _),
    "events_funnel_windowed" -> (eventsFunnelWindowed _),
    "lineitem_ship_latency" -> (shipLatency _),
    "events_velocity" -> ((s: SparkSession, d: String) => eventsVelocity(s, d)),
    "events_conversion_lag" -> (eventsConversionLag _),
    "events_ewma" -> (eventsEwma _),
    "events_banded" -> (eventsBanded _),
    "events_anomaly" -> (eventsAnomaly _),
    "events_retention" -> (eventsRetention _),
    "events_moving_avg" -> (eventsMovingAvg _),
    "hist_price" -> (histPrice _),
    "hist_price_equidepth" -> (histPriceEquidepth _),
    "events_user_features" -> (eventsUserFeatures _),
    "events_rolling_wau" -> (eventsRollingWau _),
    "orders_rfm" -> (ordersRfm _),
    "events_temporal_join" -> (eventsTemporalJoin _),
    "join_outer" -> (joinOuter _),
    "grouping_sets_revenue" -> (groupingSetsRevenue _),
    "events_funnel" -> (eventsFunnel _),
    "cube_revenue" -> (cubeRevenue _),
    "pivot_qty" -> (pivotQty _),
    "join_salted" -> (joinSalted _),
    "agg_approx_distinct" -> (aggApproxDistinct _),
    "percentile_approx_qty" -> (percentileApproxQty _),
    "q1_agg" -> (q1Agg _),
    "scan_filter" -> (scanFilter _),
    "join_cust_orders" -> (joinCustOrders _),
    "join_multi" -> (joinMulti _),
    "topk_parts" -> (topkParts _),
    "window_rank" -> (windowRank _),
    "agg_distinct" -> (aggDistinct _),
    "events_hourly" -> (eventsHourly _),
    "events_acf" -> (eventsAcf _),
    "events_sliding" -> (eventsSliding _),
    "events_sessionize" -> (eventsSessionize _),
    "events_json" -> (eventsJson _),
    "join_anti" -> (joinAnti _),
    "join_semi" -> (joinSemi _),
    "rollup_revenue" -> (rollupRevenue _),
    "percentile_qty" -> (percentileQty _),
    "events_asof" -> (eventsAsof _),
    "agg_salted" -> (aggSalted _),
    "set_ops" -> (setOps _),
    "topk_per_key" -> (topkPerKey _),
    "agg_stats" -> (aggStats _))

  val oracleSql: Map[String, String] = Map(
    "events_conversion_lag" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_buy, min(v.t_view) AS t_view
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
        |  GROUP BY e.user_id),
        |lags AS (SELECT
        |    CAST(CAST(floor(epoch(t_buy)) AS BIGINT)
        |      - CAST(floor(epoch(t_view)) AS BIGINT) AS DOUBLE) / 60.0 AS lag_min
        |  FROM p)
        |SELECT count(*) AS n_converting_users,
        |  round(quantile_cont(lag_min, 0.25), 6) AS p25,
        |  round(quantile_cont(lag_min, 0.5), 6) AS p50,
        |  round(quantile_cont(lag_min, 0.75), 6) AS p75
        |FROM lags""".stripMargin,
    "events_velocity" ->
      """WITH v AS (
        |  SELECT user_id,
        |    count(*) OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |      RANGE BETWEEN 300 PRECEDING AND CURRENT ROW) AS n_5m
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(max(n_5m) AS BIGINT) AS peak_5m,
        |  CAST(sum(CASE WHEN n_5m > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM v GROUP BY user_id""".stripMargin,
    "lineitem_ship_latency" ->
      """SELECT CAST(floor(date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT) AS week_bucket,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "events_cusum" ->
      """SELECT user_id, event_id,
        |  list_reduce(list_prepend(0.0, xs),
        |    (acc, x) -> greatest(0.0, acc + (x - mu))) AS cusum
        |FROM (
        |  SELECT user_id, event_id, mu,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS xs
        |  FROM events
        |  JOIN (SELECT user_id, round(avg(value), 6) AS mu
        |        FROM events GROUP BY user_id) USING (user_id))""".stripMargin,
    "events_funnel_windowed" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click'
        |    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 30 MINUTE
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 30 MINUTE
        |  GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM s1) AS n_viewed,
        |  (SELECT count(*) FROM s2) AS n_clicked_30m,
        |  (SELECT count(*) FROM s3) AS n_purchased_30m""".stripMargin,
    "events_attribution_markov" -> {
      val sweep = (k: Int) =>
        s"""v$k AS MATERIALIZED (
           |  SELECT f.removed, f.state,
           |    CASE WHEN f.state = 'CONV' THEN CAST(1 AS DOUBLE)
           |         WHEN f.state = 'NULL' THEN CAST(0 AS DOUBLE)
           |         ELSE round(coalesce(a.x, CAST(0 AS DOUBLE)), 6) END AS v
           |  FROM v0 f LEFT JOIN (
           |    SELECT v.removed, tm.from_state AS state, sum(tm.p * v.v) AS x
           |    FROM tm JOIN v${k - 1} v
           |      ON v.state = tm.to_state AND tm.to_state != v.removed
           |    GROUP BY v.removed, tm.from_state) a
           |  ON a.removed = f.removed AND a.state = f.state)""".stripMargin
      val sweeps = (1 to 30).map(sweep).mkString(",\n")
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |ev2 AS (SELECT user_id, rn, event_type,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nxt,
         |    min(CASE WHEN event_type = 'purchase' THEN rn END)
         |      OVER (PARTITION BY user_id) AS cut
         |  FROM ev),
         |j AS (SELECT user_id, rn, event_type, nxt FROM ev2
         |  WHERE cut IS NULL OR rn <= cut),
         |tr AS (
         |  SELECT event_type AS from_state,
         |    CASE WHEN nxt IS NULL THEN 'NULL'
         |         WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END AS to_state
         |  FROM j WHERE event_type != 'purchase'
         |  UNION ALL
         |  SELECT 'START',
         |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END
         |  FROM j WHERE rn = 1),
         |tm AS MATERIALIZED (SELECT from_state, to_state,
         |    round(CAST(count(*) AS DOUBLE)
         |      / CAST(sum(count(*)) OVER (PARTITION BY from_state) AS BIGINT), 6) AS p
         |  FROM tr GROUP BY from_state, to_state),
         |rm AS (SELECT DISTINCT from_state AS removed FROM tm
         |       WHERE from_state != 'START'
         |       UNION ALL SELECT 'none'),
         |sts AS (SELECT DISTINCT state FROM (
         |  SELECT from_state AS state FROM tm
         |  UNION SELECT to_state FROM tm)),
         |v0 AS MATERIALIZED (SELECT rm.removed, sts.state,
         |    CASE WHEN sts.state = 'CONV' THEN CAST(1 AS DOUBLE)
         |         ELSE CAST(0 AS DOUBLE) END AS v
         |  FROM rm CROSS JOIN sts),
         |$sweeps,
         |fl AS (SELECT v AS conv_full FROM v30
         |  WHERE removed = 'none' AND state = 'START'),
         |eff AS (SELECT removed AS channel, v AS conv_removed,
         |    round(1 - v / conv_full, 6) AS removal_effect
         |  FROM v30 CROSS JOIN fl
         |  WHERE state = 'START' AND removed != 'none'),
         |tot AS (SELECT sum(removal_effect) AS te FROM eff)
         |SELECT channel, conv_full, conv_removed, removal_effect,
         |  round(removal_effect / te, 6) AS attribution_share
         |FROM eff CROSS JOIN fl CROSS JOIN tot""".stripMargin
    },
    "events_markov_stationary" -> {
      val sweep = (i: Int) =>
        s"""s$i AS MATERIALIZED (
           |  SELECT st.event_type,
           |    coalesce(sum(n${i - 1}.pi * pr.p), 0.0) AS raw
           |  FROM st
           |  LEFT JOIN pr ON pr.j = st.event_type
           |  LEFT JOIN n${i - 1} ON n${i - 1}.event_type = pr.i
           |  GROUP BY st.event_type),
           |n$i AS (SELECT event_type,
           |    round(raw / (SELECT sum(raw) FROM s$i), 6) AS pi
           |  FROM s$i)""".stripMargin
      val sweeps = (1 to 15).map(sweep).mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT event_type, next_type, count(*) AS n FROM (
         |    SELECT event_type,
         |      lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
         |    FROM events)
         |  WHERE next_type IS NOT NULL
         |  GROUP BY event_type, next_type),
         |tt AS (SELECT event_type, sum(n) AS total FROM pairs GROUP BY event_type),
         |pr AS MATERIALIZED (
         |  SELECT event_type AS i, next_type AS j,
         |    ${graft.functions.Exact.duck6("n", "total")} AS p
         |  FROM pairs JOIN tt USING (event_type)),
         |st AS MATERIALIZED (SELECT DISTINCT i AS event_type FROM pr),
         |n0 AS (SELECT event_type,
         |    round(1.0 / (SELECT count(*) FROM st), 6) AS pi FROM st),
         |$sweeps
         |SELECT event_type, pi FROM n15""".stripMargin
    },
    "q6_revenue_delta" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24.0""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q14_promo_share" ->
      """WITH m AS (
        |  SELECT month(l_shipdate) AS ship_month, count(*) AS n_lines,
        |    sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))
        |      ELSE CAST(0.0 AS DECIMAL(20,4)) END) AS promo,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))) AS tot
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT ship_month, n_lines,
        |  CAST(promo AS DOUBLE) AS promo_revenue,
        |  CAST(tot AS DOUBLE) AS total_revenue,
        |  CAST((2 * CAST(promo * 10000 AS HUGEINT) * 1000000
        |        + CAST(tot * 10000 AS HUGEINT))
        |       // (2 * CAST(tot * 10000 AS HUGEINT)) AS DOUBLE) / 1000000.0
        |    AS promo_share
        |FROM m""".stripMargin,
    "orders_reconciliation" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1.0 - CAST(l_discount AS DECIMAL(4,2)))) AS net
        |  FROM lineitem GROUP BY l_orderkey),
        |j AS (
        |  SELECT o_orderpriority,
        |    CAST(net * 10000 AS HUGEINT) AS d,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 10000 AS HUGEINT) AS tt
        |  FROM orders LEFT JOIN li ON o_orderkey = l_orderkey)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
        |  CAST(sum(CASE WHEN d IS NOT NULL AND d * 2 < tt THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_under_half,
        |  CAST(sum(CASE WHEN d IS NOT NULL AND d * 2 >= tt AND d < tt THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_half_to_1x,
        |  CAST(sum(CASE WHEN d IS NOT NULL AND d >= tt AND d < tt * 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_1x_to_2x,
        |  CAST(sum(CASE WHEN d IS NOT NULL AND d >= tt * 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_over_2x
        |FROM j GROUP BY o_orderpriority""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """WITH m AS (
        |  SELECT year(o_orderdate) AS o_year, count(*) AS n_lines,
        |    sum(CASE WHEN n1.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))
        |      ELSE CAST(0.0 AS DECIMAL(20,4)) END) AS nat,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))) AS tot
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT o_year, n_lines,
        |  CAST(nat AS DOUBLE) AS nation_revenue,
        |  CAST(tot AS DOUBLE) AS total_revenue,
        |  CAST((2 * CAST(nat * 10000 AS HUGEINT) * 1000000
        |        + CAST(tot * 10000 AS HUGEINT))
        |       // (2 * CAST(tot * 10000 AS HUGEINT)) AS DOUBLE) / 1000000.0
        |    AS mkt_share
        |FROM m""".stripMargin,
    "q13_customer_distribution" ->
      """WITH per AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM per GROUP BY c_count""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1.0 - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey),
        |mx AS (SELECT max(total_rev) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        |FROM rev, mx
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = max_rev
        |ORDER BY s_suppkey""".stripMargin,
    "q17_small_quantity" ->
      """WITH avgq AS (
        |  SELECT l_partkey AS p_key,
        |    sum(l_quantity) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS small_qty_revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN avgq ON l_partkey = p_key
        |WHERE p_brand = 'Brand#13'
        |  AND l_quantity < 0.2 * avg_qty""".stripMargin,
    "q22_idle_customers" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer),
        |pos AS (
        |  SELECT sum(bal) AS total_pos, CAST(count(*) AS DECIMAL(20,0)) AS n_pos
        |  FROM cust WHERE bal > 0)
        |SELECT n_name, count(*) AS numcust, CAST(sum(bal) AS DOUBLE) AS totacctbal
        |FROM cust, pos
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE bal * n_pos > total_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-09-01 00:00:00')
        |GROUP BY n_name""".stripMargin,
    "q12_priority_latency" ->
      """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |    THEN 'late' ELSE 'ontime' END AS latency_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_critical,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_other
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "q19_brand_quantity" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1.0 AND 11.0)
        |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10.0 AND 20.0)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin,
    "q10_returned_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment, n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
        |GROUP BY c_custkey, c_name, c_mktsegment, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,
    "q18_large_orders" ->
      """WITH qty AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 200.0)
        |SELECT c_custkey, c_mktsegment, o_orderkey, o_orderdate,
        |  o_totalprice, sum_qty
        |FROM orders
        |JOIN qty ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 1) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 1) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 1) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2))) * (1.0 + CAST(l_tax AS DECIMAL(4,2)))), 1) AS DOUBLE) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-09-03 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "events_attribution" ->
      """SELECT touch_type, count(*) AS n_conversions,
        |  round(sum(value), 4) AS attributed_value
        |FROM (
        |  SELECT event_type, value,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS touch_type
        |  FROM events)
        |WHERE event_type = 'purchase' AND touch_type IS NOT NULL
        |GROUP BY touch_type""".stripMargin,
    "events_transitions" ->
      s"""WITH p AS (
        |  SELECT event_type, next_type, count(*) AS n FROM (
        |    SELECT event_type,
        |      lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |    FROM events)
        |  WHERE next_type IS NOT NULL
        |  GROUP BY event_type, next_type),
        |t AS (SELECT event_type, sum(n) AS total FROM p GROUP BY event_type)
        |SELECT event_type, next_type, n,
        |  ${graft.functions.Exact.duck6("n", "total")} AS p
        |FROM p JOIN t USING (event_type)""".stripMargin,
    "events_ewma" ->
      """SELECT user_id, event_id,
        |  list_reduce(xs, (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma
        |FROM (
        |  SELECT user_id, event_id,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS xs
        |  FROM events)""".stripMargin,
    "events_banded" ->
      """WITH bands AS (
        |  SELECT CAST(i AS INT) AS band_id, i * 25.0 AS lo, (i + 1) * 25.0 AS hi
        |  FROM (SELECT unnest(range(4)) AS i))
        |SELECT band_id, count(*) AS n_events,
        |  round(min(lo), 2) AS lo, round(min(hi), 2) AS hi,
        |  round(sum(value), 4) AS sum_value
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band_id""".stripMargin,
    "events_anomaly" ->
      """WITH s AS (SELECT event_type, round(avg(value), 6) AS mu,
        |  round(stddev_samp(value), 6) AS sd FROM events GROUP BY event_type)
        |SELECT event_id, event_type, value,
        |  round((value - mu) / sd, 6) AS z
        |FROM events JOIN s USING (event_type)
        |WHERE abs(value - mu) > 3.0 * sd""".stripMargin,
    "events_retention" ->
      s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id),
        |sz AS (SELECT cohort, CAST(count(DISTINCT user_id) AS BIGINT) AS n_cohort
        |       FROM c GROUP BY cohort),
        |act AS (SELECT DISTINCT ev.user_id, cohort,
        |          CAST(day - cohort AS INT) AS "offset"
        |        FROM ev JOIN c USING (user_id)),
        |g AS (SELECT cohort, "offset",
        |        CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |      FROM act GROUP BY cohort, "offset")
        |SELECT cohort, "offset", n_active, n_cohort,
        |  ${graft.functions.Exact.duck6("n_active", "n_cohort")} AS retention
        |FROM g JOIN sz USING (cohort)""".stripMargin,
    "events_moving_avg" ->
      """SELECT user_id, event_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS ma4
        |FROM events""".stripMargin,
    "hist_price" ->
      """SELECT CAST(least(floor(l_extendedprice / 5000.0), 21.0) AS INT) AS bucket,
        |  count(*) AS n,
        |  round(min(l_extendedprice), 2) AS lo,
        |  round(max(l_extendedprice), 2) AS hi
        |FROM lineitem GROUP BY 1""".stripMargin,
    "events_temporal_join" ->
      // the NAIVE interval-join formulation pins the semantics the
      // union-window shape must reproduce
      """WITH states AS (
        |  SELECT user_id, event_type AS status, ts AS vf, event_id,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |facts AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT f.event_id AS purchase_id, f.user_id, f.ts, s.status AS status_at
        |FROM facts f LEFT JOIN states s
        |  ON f.user_id = s.user_id AND f.ts >= s.vf
        |  AND (s.vt IS NULL OR f.ts < s.vt)""".stripMargin,
    "events_rolling_wau" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |mx AS (SELECT max(day) AS mx FROM du),
        |win AS (SELECT day + CAST(off AS INT) AS window_end, user_id
        |  FROM du, (SELECT unnest(range(7)) AS off))
        |SELECT window_end, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |FROM win CROSS JOIN mx WHERE window_end <= mx
        |GROUP BY window_end""".stripMargin,
    "orders_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey, CAST(epoch(max(o_orderdate)) AS DOUBLE) AS r,
        |    CAST(count(*) AS DOUBLE) AS f, sum(o_totalprice) AS m
        |  FROM orders GROUP BY o_custkey),
        |cu AS (SELECT quantile_cont(r, [0.25, 0.5, 0.75]) AS rc,
        |  quantile_cont(f, [0.25, 0.5, 0.75]) AS fc,
        |  quantile_cont(m, [0.25, 0.5, 0.75]) AS mc FROM per)
        |SELECT CAST((CASE WHEN r >= rc[1] THEN 1 ELSE 0 END)
        |     + (CASE WHEN r >= rc[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN r >= rc[3] THEN 1 ELSE 0 END) AS INT) AS r_score,
        |  CAST((CASE WHEN f >= fc[1] THEN 1 ELSE 0 END)
        |     + (CASE WHEN f >= fc[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN f >= fc[3] THEN 1 ELSE 0 END) AS INT) AS f_score,
        |  CAST((CASE WHEN m >= mc[1] THEN 1 ELSE 0 END)
        |     + (CASE WHEN m >= mc[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN m >= mc[3] THEN 1 ELSE 0 END) AS INT) AS m_score,
        |  count(*) AS n_customers
        |FROM per CROSS JOIN cu GROUP BY 1, 2, 3""".stripMargin,
    "events_user_features" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  round(sum(value), 6) AS sum_value,
        |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events GROUP BY user_id""".stripMargin,
    "hist_price_equidepth" ->
      """WITH v AS (SELECT l_extendedprice AS v FROM lineitem),
        |cu AS (SELECT quantile_cont(v, [0.25, 0.5, 0.75]) AS cs FROM v)
        |SELECT CAST((CASE WHEN v >= cs[1] THEN 1 ELSE 0 END)
        |     + (CASE WHEN v >= cs[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN v >= cs[3] THEN 1 ELSE 0 END) AS INT) AS bucket,
        |  count(*) AS n,
        |  round(min(v), 2) AS lo, round(max(v), 2) AS hi
        |FROM v CROSS JOIN cu GROUP BY 1""".stripMargin,
    "grouping_sets_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 1) AS DOUBLE) AS revenue
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "join_outer" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
        |  FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
        |s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
        |  FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
        |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        |  CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
        |  CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey""".stripMargin,
    "events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
        |SELECT user_id, t1, t2, t3,
        |  CAST(1 + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS depth
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin,
    "cube_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 1) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "pivot_qty" ->
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
        |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "join_salted" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 1) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 1) AS DOUBLE) AS sum_base,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.0 - CAST(l_discount AS DECIMAL(4,2)))), 1) AS DOUBLE) AS sum_disc,
        |  count(*) AS cnt
        |FROM lineitem WHERE l_discount <= 0.08
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  l_extendedprice * (1.0 - l_discount) AS net_price
        |FROM lineitem WHERE l_quantity >= 45.0 AND l_discount > 0.07""".stripMargin,
    "join_cust_orders" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT c_custkey) AS n_cust,
        |  count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 1) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "join_multi" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 1) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "topk_parts" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10""".stripMargin,
    "window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "events_acf" ->
      """WITH s AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hb,
        |    count(*) AS n FROM events GROUP BY 1)
        |SELECT lag, count(*) AS n_pairs,
        |  round(corr(CAST(a.n AS DOUBLE), CAST(b.n AS DOUBLE)), 6) AS acf
        |FROM s a CROSS JOIN range(1, 25) t(lag) JOIN s b ON b.hb = a.hb - t.lag
        |GROUP BY lag""".stripMargin,
    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_sliding" ->
      """WITH e AS (SELECT event_type, value,
        |    time_bucket(INTERVAL 30 MINUTE, ts) AS b FROM events),
        |w AS (
        |  SELECT event_type, value, b AS win_start FROM e
        |  UNION ALL
        |  SELECT event_type, value, b - INTERVAL 30 MINUTE AS win_start FROM e)
        |SELECT win_start, event_type, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    "events_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sessions AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS sess_start, max(ts) AS sess_end,
        |  round(sum(value), 4) AS sum_value
        |FROM sessions GROUP BY user_id, session_id""".stripMargin,
    "events_json" ->
      s"""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  ${graft.functions.Exact.duck6(
             "sum(CAST(json_extract_string(props, '$.k') AS BIGINT))",
             "count(CAST(json_extract_string(props, '$.k') AS BIGINT))")} AS avg_k
        |FROM events GROUP BY event_type""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin,
    "join_semi" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)""".stripMargin,
    "rollup_revenue" ->
      """SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
        |  count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,2))), 1) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "percentile_qty" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS price_p50
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "events_asof" ->
      """SELECT event_id, user_id, ts, last_click_ts, last_click_value FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER w AS last_click_ts,
        |    last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |      OVER w AS last_click_value
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |               ROWS UNBOUNDED PRECEDING))
        |WHERE event_type = 'error' AND last_click_ts IS NOT NULL""".stripMargin,
    "agg_salted" ->
      """SELECT event_type, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(avg(l_quantity), 6) AS mean_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(stddev_samp(l_extendedprice), 2) AS sd_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "topk_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
        |  FROM orders) WHERE rank <= 3""".stripMargin,
    "set_ops" ->
      """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | EXCEPT
        | SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
        |UNION
        |(SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)""".stripMargin)
}
