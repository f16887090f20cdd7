package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.functions.Exact.r6

/** Statistical analytics wave — the data-QC / feature-engineering
  * aggregates a training-data warehouse runs daily, each in its
  * scale-correct Spark shape and each oracled exactly against DuckDB.
  */
object Analytics extends graft.Registry {

  /** Median/MAD anomaly gate per event type — the robust twin of the
    * z-score flagging (events_anomaly): a single wild value moves a
    * mean and stddev but not a median, so MAD gates survive corrupt
    * feeds. Both the median and the MAD come from the bounded-state
    * exact-quantile engine (TWO engine passes: value, then absolute
    * deviation from the per-type median literal) — no single-buffer
    * percentile, no global sort; the flagging itself is one
    * partial-aggregated pass with the six cutoffs as literals. */
  def qMadAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = t(spark, dir, "events").select(col("event_type"), col("value"))
    val med = Quantiles.grouped(ev, "event_type", "value", Seq(0.5))
      .map { case (g, m) => (g, m(0.5)) }
    val medDf = broadcast(med.toSeq.toDF("event_type", "med"))
    val dev = ev.join(medDf, "event_type")
      .select(col("event_type"), abs(col("value") - col("med")).as("d"))
    val mad = Quantiles.grouped(dev, "event_type", "d", Seq(0.5))
      .map { case (g, m) => (g, m(0.5)) }
    val cutDf = broadcast(med.toSeq.map { case (g, m) => (g, m, mad(g)) }
      .toDF("event_type", "med", "mad"))
    ev.join(cutDf, "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(abs(col("value") - col("med")) > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).as("n_anomalies"),
        round(min("med"), 6).as("med_value"),
        round(min("mad"), 6).as("mad_value"))
  }

  /** Pairwise Pearson correlation matrix of the lineitem measures in
    * ONE aggregation pass (all six pairs as parallel corr aggregates —
    * a naive loop runs six jobs and six scans), unpivoted to the long
    * (var_a, var_b, r) shape a feature-selection step consumes. */
  def qCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for (i <- cols.indices; j <- i + 1 until cols.length)
      yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__$b")
    }
    val row = t(spark, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
    import spark.implicits._
    val r = row.head()
    pairs.zipWithIndex.map { case ((a, b), i) => (a, b, r.getDouble(i)) }
      .toDF("var_a", "var_b", "r")
  }

  /** Per-priority order-value trend: least-squares slope and intercept
    * of o_totalprice against order date (days since 2020-01-01), from
    * the five classic sums — ONE partial-aggregated pass, no ML
    * library. The cross-term sums accumulate as DECIMAL(38,10), which
    * is ORDER-INDEPENDENT (double addition is not associative, so a
    * distributed double sum varies with partitioning and could not be
    * oracled exactly); the final slope arithmetic runs in doubles on
    * the exact sums, mirrored by the oracle. */
  def qOrdersTrend(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders").select(col("o_orderpriority"),
      datediff(col("o_orderdate"), to_date(lit("2020-01-01")))
        .cast("double").as("x"),
      col("o_totalprice").as("y"))
    o.groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x").cast("decimal(38,10)")).as("sx"),
        sum(col("y").cast("decimal(38,10)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,10)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,10)")).as("sxx"))
      .select(col("o_orderpriority"),
        col("n").cast("long").as("n_orders"),
        round((col("n") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6).as("slope"),
        round((col("sy").cast("double") -
          ((col("n") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (col("n") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double"))) *
            col("sx").cast("double")) / col("n"), 6).as("intercept"))
  }

  /** Incremental aggregate maintenance — the standing-report shape: a
    * nightly batch lands and the per-key aggregate updates by MERGING
    * the standing partials with the batch partials (count and sum are
    * mergeable), never rescanning the standing data. Here the split is
    * simulated by date; the oracle is the full recompute over
    * everything, proving merged == recomputed. At 100 TB the standing
    * side is a tiny persisted partial-agg table and each night costs
    * one scan of the BATCH only. */
  def qAggIncremental(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val cut = "2024-01-01"
    def partial(df: DataFrame) = df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
    val standing = partial(o.filter(col("o_orderdate") < lit(cut)))
    val batch = partial(o.filter(col("o_orderdate") >= lit(cut)))
    standing.unionByName(batch)
      .groupBy("o_orderpriority")
      .agg(sum("n").as("n_orders"), expr("CAST(round(sum(s), 1) AS DOUBLE)").as("revenue"))
  }

  /** Per-user value change-points: consecutive same-user events whose
    * value jumps by more than `threshold` — the stream-QC signal for a
    * sensor/meter feed. ONE hash shuffle on user_id serves the lag
    * window; the flagging is a codegen'd filter on top. */
  def qChangePoints(spark: SparkSession, dir: String,
                    threshold: Double = 50.0): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .withColumn("prev_value", lag("value", 1).over(w))
      .filter(col("prev_value").isNotNull &&
        abs(col("value") - col("prev_value")) > threshold)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_changes"),
        min("ts").as("first_change_ts"),
        round(max(abs(col("value") - col("prev_value"))), 6).as("max_jump"))
  }

  /** 2-D fixed-width histogram (quantity x price grid) — the heatmap
    * aggregate behind every scatter-density plot and the 2-D sibling
    * of hist_price: one partial-aggregated groupBy on the two bucket
    * ids; the grid is statically bounded regardless of data size. */
  def qHist2d(spark: SparkSession, dir: String,
              qtyW: Double = 10.0, priceW: Double = 20000.0): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(floor(col("l_quantity") / qtyW).cast("long").as("qty_bucket"),
        floor(col("l_extendedprice") / priceW).cast("long").as("price_bucket"))
      .agg(count(lit(1)).as("n"),
        // exact DECIMAL accumulation: a double sum is partitioning-
        // dependent and can land a knife-edge cell on either side of
        // any rounding (observed at sf0.001)
        sum(col("l_extendedprice").cast("decimal(38,2)")).cast("double").as("revenue"))

  /** Pre-shuffle skew diagnostic: the top-10 heaviest keys with their
    * share of a uniform key's load — the number an operator checks
    * BEFORE pointing a groupBy/join at a key at 100 TB (a 500x ratio
    * says "salt this key or enable AQE skew handling"). Per-key counts
    * are one partial-aggregated pass; the head is TakeOrdered (never a
    * global sort); the 1-row mean broadcasts back. */
  def qSkewReport(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    val per = t(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val stats = per.agg(avg(col("n")).as("avg_n"))
    per.orderBy(col("n").desc, col("user_id").asc).limit(topK)
      .crossJoin(broadcast(stats))
      .select(col("user_id"), col("n"),
        round(col("n") / col("avg_n"), 6).as("skew_ratio"))
  }

  /** Numeric column profile of the lineitem measures — the
    * data-quality report a pipeline runs on every new drop: per
    * column, null/distinct/min/max/mean. The four columns melt long
    * (stack, zero cost in the scan stage) so ONE aggregation pass
    * profiles them all; a per-column loop runs four scans. */
  def qColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    t(spark, dir, "lineitem")
      .select(expr(s"stack(${cols.size}, " +
        cols.map(c => s"'$c', $c").mkString(", ") + ") as (col_name, v)"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct("v").as("n_distinct"),
        round(min("v"), 6).as("min_v"),
        round(max("v"), 6).as("max_v"),
        // mean from an exact DECIMAL sum: double addition is not
        // associative, so a distributed double mean lands on either
        // side of the round-6 boundary depending on partitioning;
        // the division itself is the exact HALF_UP idiom (numerator
        // scaled to micro-units, common 1e6 factor cancels in DIV)
        sum(col("v").cast("decimal(38,6)")).as("sv"),
        count(col("v")).as("nv"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
        col("min_v"), col("max_v"),
        expr(graft.functions.Exact.rate6(
          "CAST(sv * 1000000 AS DECIMAL(38,0))",
          "CAST(nv AS DECIMAL(38,0)) * 1000000")).as("mean_v"))
  }

  /** Daily revenue with running total — the reporting staple. The raw
    * scan partial-aggregates to ONE ROW PER DAY first; only that
    * bounded frame (≤ ~3 650 rows even for a decade of data) flows
    * into the unpartitioned cumulative window, so the single-partition
    * sort every global running total needs is over the AGGREGATE, not
    * the data. The running total accumulates as DECIMAL(30,1) — exact
    * on the 0.1 grid the dailies are rounded to, so the cumulative is
    * engine-portable regardless of each engine's window-sum
    * association order. */
  def qDailyCumulative(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        // o_totalprice is a 2-dp money value: summing as DECIMAL(38,2)
        // is EXACT (a double sum is partitioning-dependent and lands a
        // knife-edge x.x5 day on either side of any later rounding)
        sum(col("o_totalprice").cast("decimal(38,2)")).cast("double").as("revenue"))
    daily.withColumn("cum_revenue",
      sum(col("revenue").cast("decimal(38,2)")).over(Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double"))
  }

  /** Chi-square independence test between event type and hour-of-day —
    * the statistical answer to "does traffic shape depend on type?".
    * The contingency table is ONE partial-aggregated pass; marginals
    * and the grand total are tiny broadcast frames; the statistic
    * folds over the (types x hours)-bounded cell frame. */
  def qChi2(spark: SparkSession, dir: String): DataFrame = {
    val obs = t(spark, dir, "events")
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).cast("double").as("o"))
    val rowT = obs.groupBy("event_type").agg(sum("o").as("rt"))
    val colT = obs.groupBy("hr").agg(sum("o").as("ct"))
    val grand = obs.agg(sum("o").as("n"))
    obs.join(broadcast(rowT), "event_type")
      .join(broadcast(colT), "hr")
      .crossJoin(broadcast(grand))
      .withColumn("e", col("rt") * col("ct") / col("n"))
      .agg(round(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")), 6).as("chi2"),
        ((countDistinct("event_type") - 1) * (countDistinct("hr") - 1)).as("df"),
        min(col("n")).cast("long").as("n_events"))
  }

  /** Per-user behavioral entropy: Shannon entropy (bits) of each
    * user's event-type distribution — the diversity score separating
    * single-action bots from organic users. One count pass + a
    * co-partitioned per-user fold over at most |event types| rows. */
  def qUserEntropy(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    val tot = c.groupBy("user_id").agg(sum("n").as("tot"))
    c.join(tot, "user_id")
      .withColumn("p", col("n").cast("double") / col("tot"))
      .groupBy("user_id")
      .agg(min("tot").as("n_events"),
        count(lit(1)).as("n_types"),
        round(lit(0.0) - sum(col("p") * log2(col("p"))), 6).as("entropy_bits"))
  }

  /** Market-basket co-occurrence with lift: part pairs bought in the
    * same order, scored by lift = P(a,b) / (P(a)·P(b)) — the
    * recommender/affinity staple. Scale shape: the pair explosion is a
    * SELF-EQUI-JOIN on the order key (co-partitioned, one shuffle) and
    * its fan-out is bounded by ORDER SIZE squared (a handful), never
    * corpus size; a minimum support cut keeps the output the
    * interesting head. The distinct (order, part) projection is built
    * ONCE and every downstream consumer (both self-join sides and the
    * per-part marginals) aliases AFTER it, so the three scans share a
    * single Exchange (ReusedExchange, not three identical shuffles).
    * The marginal joins are plain shuffle joins — |parts| is
    * data-sized, so broadcasting it would be a driver OOM at scale —
    * and the order total rides in as a broadcast 1-row aggregate
    * instead of a separate driver-side count job. */
  def qBasketLift(spark: SparkSession, dir: String, minSupport: Long = 2L): DataFrame = {
    // Items projection and pair census ride the staged basket index
    // (BasketStage, §2 #112): the three basket consumers were the
    // bench's top three shufflers, each re-paying the same distinct +
    // self-join + census per invocation.
    val items = BasketStage.items(spark, dir)
    val nOrders = t(spark, dir, "orders").agg(count(lit(1)).as("n_orders"))
    val perPart = items
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_orders_part"))
    BasketStage.pairCounts(spark, dir)
      .withColumnRenamed("n_ab", "n_together")
      .filter(col("n_together") >= minSupport)
      .join(perPart.select(col("l_partkey").as("pa"),
        col("n_orders_part").as("na")), "pa")
      .join(perPart.select(col("l_partkey").as("pb"),
        col("n_orders_part").as("nb")), "pb")
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("n_together"),
        // exact-integer HALF_UP 6-dp of (n_together*n_orders)/(na*nb)
        // — DECIMAL(38,0)-widened so the *1e6 numerator stays exact at
        // 100 TB counts (the round-12 flip class otherwise)
        expr("""CAST((2 * CAST(n_together AS DECIMAL(38,0)) * n_orders * 1000000
               |        + CAST(na AS DECIMAL(38,0)) * nb)
               |     DIV (2 * CAST(na AS DECIMAL(38,0)) * nb) AS DOUBLE)
               |  / 1000000.0""".stripMargin).as("lift"))
  }

  /** Frequent TRIPLES via the Apriori candidate prune (Agrawal &
    * Srikant 1994) on top of the basket pairs: a triple can only be
    * frequent if ALL THREE of its sub-pairs are, so the per-order
    * expansion joins the L2 (frequent-pair) list BEFORE generating any
    * (pa, pb, pc) candidate, and the two remaining sub-pairs prune via
    * broadcast semi joins — that pre-expansion prune is the entire
    * point of Apriori and what bounds the blowup at 100 TB (a naive
    * triple self-join is order-size CUBED; this is frequent-pair
    * occurrences x order tail). Support reports as the exact HALF_UP
    * 6-dp share of all orders.
    *
    * `broadcastL2` guards the L2 prune's join strategy: the default
    * broadcast assumes the frequent-pair list fits the driver/executor
    * broadcast budget (spark.sql.autoBroadcastJoinThreshold-class,
    * ~10s of MB — holds for any minSupport that makes Apriori useful).
    * A LOW minSupport at 100 TB can blow L2 past that, so pass
    * broadcastL2 = false to run the same three prunes as shuffled
    * co-partitioned left-semi joins — identical semantics (the spec
    * asserts both paths row-equal), no driver materialization; the
    * semi-join build sides then shuffle on the same (pa,pb)-class keys
    * the probe sides already hash on. */
  def qBasketTriples(spark: SparkSession, dir: String,
                     minSupport: Long = 2L,
                     broadcastL2: Boolean = true): DataFrame = {
    val hinted: DataFrame => DataFrame =
      if (broadcastL2) broadcast else identity
    // Staged basket index (BasketStage, §2 #112): items + pair census
    // are shared with basket_lift / basket_rules instead of rebuilt.
    val li = BasketStage.items(spark, dir)
    val nOrders = t(spark, dir, "orders").agg(count(lit(1)).as("n_orders"))
    val l2 = BasketStage.pairCounts(spark, dir)
      .filter(col("n_ab") >= minSupport)
      .select("pa", "pb")
    // per-order instances of frequent pairs, extended by a third item
    val orderPairs = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("pb")), "l_orderkey")
      .filter(col("pa") < col("pb"))
      .join(hinted(l2), Seq("pa", "pb"), "left_semi")
    val cand = orderPairs
      .join(li.select(col("l_orderkey"), col("l_partkey").as("pc")), "l_orderkey")
      .filter(col("pb") < col("pc"))
      .join(hinted(l2.select(col("pa"), col("pb").as("pc"))),
        Seq("pa", "pc"), "left_semi")
      .join(hinted(l2.select(col("pa").as("pb"), col("pb").as("pc"))),
        Seq("pb", "pc"), "left_semi")
    cand.groupBy("pa", "pb", "pc").agg(count(lit(1)).as("n_together"))
      .filter(col("n_together") >= minSupport)
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("pc"), col("n_together"),
        expr("""CAST((2 * n_together * 1000000 + n_orders)
               |     DIV (2 * n_orders) AS DOUBLE) / 1000000.0""".stripMargin)
          .as("support"))
  }

  /** Bounce rate on top of the gap-sessionization chain: per user, the
    * share of sessions containing exactly one event — the engagement
    * KPI every product dashboard leads with. Same single user-shuffle
    * as events_sessionize; the per-user rollup rides the existing
    * partitioning. */
  def qBounceRate(spark: SparkSession, dir: String): DataFrame =
    Relational.eventsSessionize(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_rate",
        col("n_bounces").cast("double") / col("n_sessions"))

  /** Inter-event gap quantiles per event type — the feed-cadence
    * numbers (median and p90 seconds between a user's consecutive
    * events of a type) behind rate-limit and staleness alerting. One
    * user-shuffle for the lag, then the bounded-state quantile engine
    * per type; nothing buffers a value map. */
  def qGapQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    val gaps = t(spark, dir, "events")
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(col("event_type"),
        // timestamp->double keeps the sub-second micros (unix_timestamp
        // truncates them and would diverge from the oracle's epoch())
        (col("ts").cast("double") - col("prev_ts").cast("double")).as("gap_s"))
      // every engine pass (fused histogram + refinements + residual)
      // re-derived the gaps — re-paying the user shuffle AND the
      // per-partition sort each time. The engine is fully eager (the
      // cutoffs come back as driver values), so the cache lives only
      // inside this call (§5 bounded reuse, the curriculum pattern).
      .cache()
    try {
      val qs = Quantiles.grouped(gaps, "event_type", "gap_s", Seq(0.5, 0.9))
      qs.toSeq.map { case (g, m) => (g, m(0.5), m(0.9)) }
        .toDF("event_type", "p50_gap_s", "p90_gap_s")
    } finally { gaps.unpersist(); () }
  }

  /** Embedding-table QC report: vector count, dimensionality check,
    * zero-norm count, norm spread — the vector-data profile a
    * similarity index build should gate on. One pass; the norm is a
    * codegen'd HOF fold per row. */
  def qEmbedQc(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(expr(
        "sqrt(aggregate(embedding, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
        .as("nrm"), size(col("embedding")).as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct("dim").as("n_dims_distinct"),
        min("dim").as("dim"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        round(min("nrm"), 6).as("min_norm"),
        round(max("nrm"), 6).as("max_norm"))

  /** Revenue share per priority: each group's fraction of exact total
    * revenue — window-free (the 1-row total broadcasts back), DECIMAL-
    * exact sums so the shares oracle bitwise. */
  def qRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(sum(col("o_totalprice").cast("decimal(38,2)")).as("rev"))
    val total = per.agg(sum("rev").as("tot"))
    per.crossJoin(broadcast(total))
      .select(col("o_orderpriority"),
        col("rev").cast("double").as("revenue"),
        expr(graft.functions.Exact.rate6("CAST(rev * 100 AS DECIMAL(38,0))",
          "CAST(tot * 100 AS DECIMAL(38,0))")).as("share"))
  }

  /** Label-conditioned embedding QC — the separability report a
    * contrastive-training set owes its labels: per label, the member
    * count, centroid norm, mean member distance to the own-label
    * centroid (cohesion) and the distance to the nearest OTHER label
    * centroid (separation). Labels whose cohesion exceeds their
    * separation are not learnable classes. Scale shape: one melt to
    * (vec, dim, value), one bounded (label, dim) centroid aggregate
    * (ROUNDED 6 so every downstream arithmetic starts from identical
    * numbers), a co-partitioned join back, and label-count-bounded
    * centroid-pair math — no pairwise vector work anywhere. */
  def qEmbedLabelQc(spark: SparkSession, dir: String): DataFrame = {
    val ex = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("i0", "x0")))
      .select(col("vec_id"), col("label"), (col("i0") + 1).as("i"),
        col("x0").cast("double").as("x"))
    val c = ex.groupBy("label", "i").agg(round(avg("x"), 6).as("c"))
    val cohesion = ex.join(c, Seq("label", "i"))
      .groupBy("vec_id", "label")
      .agg(sqrt(sum((col("x") - col("c")) * (col("x") - col("c")))).as("dist"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), round(avg("dist"), 6).as("mean_dist"))
    val norms = c.groupBy("label")
      .agg(round(sqrt(sum(col("c") * col("c"))), 6).as("centroid_norm"))
    val sep = c.select(col("label").as("la"), col("i"), col("c").as("ca"))
      .join(c.select(col("label").as("lb"), col("i"), col("c").as("cb")), "i")
      .filter(col("la") =!= col("lb"))
      .groupBy("la", "lb")
      .agg(sqrt(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))).as("cd"))
      .groupBy(col("la").as("label"))
      .agg(round(min("cd"), 6).as("min_sep"))
    cohesion.join(norms, "label").join(sep, "label")
      .select("label", "n_vecs", "centroid_norm", "mean_dist", "min_sep")
  }

  /** Embedding Gram matrix (the PCA substrate): sum of x_i * x_j over
    * the corpus for every dim pair i <= j, long format — the 64x64
    * moment matrix whose top eigenvectors are the principal
    * components a whitening/dimension-reduction pass needs. Scale
    * shape: the typed GramMatrix aggregator folds every vector into
    * ONE flat 2080-sum buffer per partition in a fused loop (no
    * exploded pair rows anywhere) and only the D^2-sized partial
    * buffers move in the merge — the classic distributed-covariance
    * plan (data never moves, only D^2-sized partials do). The
    * DuckDB oracle still runs the declarative pair-explode form, so
    * the buffer indexing is cross-checked value-by-value. The
    * eigen-solve itself is driver-side on the 2080-row result
    * (topPrincipalComponent below), exactly like the k-means centers:
    * model state through the driver, data does not. */
  def qEmbedGram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val r = t(spark, dir, "embeddings")
      .select(col("embedding")).as[Seq[Float]]
      .select(graft.functions.GramMatrix.toColumn)
      .collect()(0)
    // unflatten the upper-triangle buffer to (i, j) rows; buffer sums
    // are exact 1e-12-unit integers (MicroGrid), so the round-6 is an
    // exact integer division — layout/host-invariant by construction
    val d = ((math.sqrt(8.0 * r.sums.length + 1) - 1) / 2).round.toInt
    val rows = for {
      i <- 1 to d; j <- i to d
    } yield {
      val t0 = (i - 1) * d - (i - 1) * (i - 2) / 2 + (j - i)
      (i, j, r.n,
        graft.functions.MicroGrid.roundDiv6(BigInt(r.sums(t0)), BigInt(1000000)))
    }
    rows.toDF("i", "j", "n", "gram")
  }

  /** Top principal component by power iteration on the ROUNDED Gram
    * matrix (driver-side: 64x64 floats are model state, not data).
    * Deterministic: uniform init, fixed iteration count, sign fixed
    * so the largest-|loading| coordinate is positive. Returns
    * (eigenvector, eigenvalue). */
  def topPrincipalComponent(spark: SparkSession, dir: String,
                            iters: Int = 100): (Array[Double], Double) = {
    val rows = qEmbedGram(spark, dir).select("i", "j", "gram").collect()
    val d = rows.map(_.getInt(1)).max
    val g = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, v) = (r.getInt(0) - 1, r.getInt(1) - 1, r.getDouble(2))
      g(i)(j) = v; g(j)(i) = v
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val gv = Array.tabulate(d)(i => (0 until d).map(j => g(i)(j) * v(j)).sum)
      lambda = math.sqrt(gv.map(x => x * x).sum)
      v = gv.map(_ / lambda)
    }
    val m = v.indices.maxBy(i => math.abs(v(i)))
    if (v(m) < 0) v = v.map(-_)
    (v, lambda)
  }

  /** Distributed global rank + running sum over the bounded
    * per-customer revenue aggregate — the Roulette presum discipline
    * (clustering/Roulette.scala) applied to ranking: assign each row
    * a range-bucket id derived PURELY FROM ITS VALUES (rev compared
    * against boundary literals collected to the driver once), take
    * per-bucket (count, decimal sum) presums in ONE tiny collect,
    * broadcast the bucket offsets back, then local rank/cumsum
    * windows PARTITIONED BY the bucket. Replaces the round-9
    * `Window.orderBy` with no partitionBy, which funnels the whole
    * customer dimension (~10^9 rows at 100 TB TPC-H) through a single
    * WindowExec task. Every window partition here is ~n/parts rows;
    * rank and cumsum are exact because the (rev, custkey) sort order
    * is total, the bucket function is monotone along it (equal rev →
    * same bucket, ties broken inside the bucket), and decimal sums
    * are associative.
    *
    * The bucket id is the count of boundary literals the row passes in
    * sort order — the Quantiles.scala value-comparison discipline — so
    * the presum job and the main job CANNOT disagree even if any stage
    * is recomputed from scratch (cache-block loss, executor failure):
    * there is no dependence on spark_partition_id() or on
    * RangePartitioner's per-job sampling. Boundaries are COMPOSITE
    * (rev, custkey) tuples picked as evenly-spaced order statistics of
    * a bounded deterministic hash-gated sample (~parts*64 rows to the
    * driver at ANY corpus size) — the composite comparison means heavy
    * ties on rev (a degenerate all-equal distribution) still split
    * across buckets by custkey instead of funneling the whole
    * dimension through one window task. Boundary quality only affects
    * balance, never correctness. The .cache() below is a pure perf
    * optimization (the agg feeds three bounded jobs) — correctness no
    * longer needs it.
    *
    * Returns (ranked frame with `i` = 1-based global rank and
    * `cum` = running decimal(38,2) sum in sort order, n rows, total
    * sum, release thunk); callers consume it and then call release —
    * the literal-frame return pattern both consumers use. */
  private[relational] def rankedRevenue(agg: DataFrame, descending: Boolean,
                                        parts: Int = 32)
      : (DataFrame, Long, java.math.BigDecimal, () => Unit) = {
    val sort =
      if (descending) Seq(col("rev").desc, col("o_custkey").asc)
      else Seq(col("rev").asc, col("o_custkey").asc)
    val cached = agg.cache()
    val revD = col("rev").cast("double")
    // Boundary tuples, collected once as literals — both downstream
    // jobs compare against these exact same constants.
    val n0 = cached.count()
    val gate = math.max(1L, n0 / (parts * 64L))
    val sampled = cached
      .filter(pmod(hash(col("o_custkey")), lit(gate)) === 0)
      .select(revD.as("r"), col("o_custkey").as("c"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    val ordered =
      if (descending) sampled.sortBy { case (r, c) => (-r, c) }
      else sampled.sortBy(identity)
    val cuts: Seq[(Double, Long)] =
      if (ordered.length <= 1) Seq.empty
      else (1 until parts)
        .map(i => ordered((i.toLong * ordered.length / parts).toInt))
        .distinct
    val bucket =
      if (cuts.isEmpty) lit(0)
      else cuts.map { case (r, c) =>
        val passed =
          if (descending)
            revD < lit(r) || (revD === lit(r) && col("o_custkey") > lit(c))
          else
            revD > lit(r) || (revD === lit(r) && col("o_custkey") > lit(c))
        when(passed, 1).otherwise(0)
      }.reduce(_ + _)
    val parted = cached.withColumn("__pid", bucket)
    val stats = parted.groupBy("__pid")
      .agg(count(lit(1)).as("c"), sum(col("rev")).as("s"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    val zero = java.math.BigDecimal.ZERO.setScale(2)
    var ioff = 0L
    var coff = zero
    val offsets = (0 until parts).map { p =>
      val row = (p, ioff, coff)
      val (c, s) = stats.getOrElse(p, (0L, zero))
      ioff += c; coff = coff.add(s)
      row
    }
    val spark = agg.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("__pid", "__ioff", "__coff")
      .withColumn("__coff", col("__coff").cast("decimal(38,2)")))
    val local = Window.partitionBy("__pid").orderBy(sort: _*)
    val ranked = parted
      .withColumn("__li", row_number().over(local).cast("long"))
      .withColumn("__lcum", sum(col("rev")).over(
        local.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(offDf, Seq("__pid"))
      .withColumn("i", col("__li") + col("__ioff"))
      .withColumn("cum", (col("__lcum") + col("__coff")).cast("decimal(38,2)"))
    (ranked, ioff, coff, () => { cached.unpersist(); () })
  }

  /** The per-customer revenue aggregate both reports rank. */
  private def revenueAgg(orders: DataFrame): DataFrame =
    orders.groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(38,2)")).as("rev"))

  /** Collect-and-release: both reports reduce to a handful of rows,
    * so they materialize the result, drop the ranked frame's cached
    * partitioning, and return a literal frame (the KMeans.lloyd pattern). */
  private def literalFrame(res: DataFrame, release: () => Unit): DataFrame = {
    val rows = res.collect()
    val schema = res.schema
    release()
    val spark = res.sparkSession
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Revenue-concentration report (the Pareto/80-20 diagnostic a
    * curation or sales pipeline runs on any value column): exact Gini
    * coefficient over per-customer revenue totals via the
    * rank-weighted-sum identity G = 2*Σ(i*x_i)/(n*Σx) - (n+1)/n on
    * ascending-sorted totals, plus the revenue share of the top
    * decile of customers. Totals and the weighted sum are
    * DECIMAL-exact (order-independent — the double cast happens once
    * on the final scalars, identically in both engines); the global
    * rank runs over the per-customer AGGREGATE, bounded by the
    * customer dimension, never over the fact table, and is computed
    * DISTRIBUTED via rankedRevenue (no single-partition WindowExec
    * anywhere in the plan). */
  def qPareto(spark: SparkSession, dir: String): DataFrame =
    paretoOf(t(spark, dir, "orders"))

  /** The concentration report over any (o_custkey, o_totalprice) frame. */
  def paretoOf(orders: DataFrame): DataFrame = {
    val (ranked, n, _, release) = rankedRevenue(revenueAgg(orders), descending = false)
    val cut = n - math.max(1L, n / 10)
    val res = ranked.agg(
      sum(col("rev")).as("__t"),
      sum(col("i").cast("decimal(20,0)") * col("rev")).as("__w"),
      sum(when(col("i") > lit(cut), col("rev"))
        .otherwise(lit(0).cast("decimal(38,2)"))).as("__top"))
      .select(
        lit(n).as("n_customers"),
        col("__t").cast("double").as("total_revenue"),
        // gini = (2W - (n+1)T) / (nT): one SIGNED exact integer
        // quotient after scaling the 2-dp decimals to cents
        expr(graft.functions.Exact.srate6(
          s"2 * CAST(__w * 100 AS DECIMAL(38,0)) - ($n + 1) * CAST(__t * 100 AS DECIMAL(38,0))",
          s"$n * CAST(__t * 100 AS DECIMAL(38,0))")).as("gini"),
        expr(graft.functions.Exact.rate6("CAST(__top * 100 AS DECIMAL(38,0))",
          "CAST(__t * 100 AS DECIMAL(38,0))")).as("top_decile_share"))
    literalFrame(res, release)
  }

  /** ABC inventory/customer classification — the actionable sibling
    * of the Gini report: customers ranked by revenue descending,
    * class A = the head covering 80% of cumulative revenue, B = the
    * next 15%, C = the tail. Same distributed presum discipline as
    * qPareto (rank + cumulative sum over the per-customer AGGREGATE,
    * never the fact table, no single-partition window); sums are
    * DECIMAL-exact, so the class-edge comparison runs on
    * exactly-representable totals in both engines. */
  def qAbc(spark: SparkSession, dir: String): DataFrame = {
    val (ranked, _, tot, release) =
      rankedRevenue(revenueAgg(t(spark, dir, "orders")), descending = true)
    val totC = lit(tot).cast("decimal(38,2)")
    val res = ranked
      .withColumn("cls",
        when(col("cum") <= totC * lit(0.80), "A")
          .when(col("cum") <= totC * lit(0.95), "B")
          .otherwise("C"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_customers"),
        sum("rev").cast("double").as("revenue"))
      .withColumn("revenue", round(col("revenue"), 2))
    literalFrame(res, release)
  }

  /** Seasonally-conditioned anomaly gate: z-score of an event's value
    * against its OWN (type, hour-of-day) stratum — a payment that is
    * normal at noon can be anomalous at 4am, which the global
    * per-type gate (events_anomaly) cannot see. The stratum stats are
    * a bounded (types x 24) aggregate broadcast back over one corpus
    * pass; stddev uses the aggregate form and both moments are
    * ROUNDED 6 before the flag comparison so the gate decision is
    * engine-stable. */
  def qSeasonalAnomaly(spark: SparkSession, dir: String): DataFrame =
    seasonalAnomalyOf(t(spark, dir, "events"))

  /** The gate over any (event_id, ts, event_type, value) frame. */
  def seasonalAnomalyOf(events: DataFrame): DataFrame = {
    val ev = events.withColumn("hod", hour(col("ts")))
    val stats = ev.groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n"),
        round(avg("value"), 6).as("mu"),
        round(stddev_pop(col("value")), 6).as("sigma"))
      .filter(col("n") >= 30 && col("sigma") > 0.0)
    ev.join(broadcast(stats), Seq("event_type", "hod"))
      .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 6))
      .filter(abs(col("z")) > 3.0)
      .select("event_id", "event_type", "hod", "value", "z")
  }

  /** Weekday seasonality index: mean daily revenue per day-of-week
    * over the mean daily revenue overall — the seasonal profile the
    * ACF's lag peaks point at, and the correction factor a
    * seasonal-naive forecast divides by. Reduces the fact table to
    * the DAY-bounded DECIMAL-exact series (the qDailyCumulative
    * discipline), then one bounded 7-key aggregate + a broadcast
    * 1-row total; every division runs on exact decimal-sourced
    * scalars mirrored in order. Spark's dayofweek is 1..7 (Sun = 1);
    * the oracle maps DuckDB's 0..6 with + 1. */
  def qWeekdayIndex(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(38,2)")).as("rev"))
    val byDow = daily.groupBy(dayofweek(col("day")).as("dow"))
      .agg(count(lit(1)).as("n_days"),
        sum("n_orders").as("n_orders"),
        sum(col("rev")).as("sd"))
    val total = daily.agg(count(lit(1)).as("ntd"),
      sum(col("rev")).as("st"))
    byDow.crossJoin(broadcast(total))
      .select(col("dow"), col("n_days"), col("n_orders"),
        col("sd").cast("double").as("revenue"),
        // both indexes are ratios of exact DECIMAL(38,2)/integer
        // scalars: day_mean scales to cents; seasonal_index
        // cross-multiplies to (sd*ntd)/(n_days*st) — pure integer
        // quotients, exact HALF_UP
        expr(graft.functions.Exact.rate6("CAST(sd * 100 AS DECIMAL(38,0))",
          "CAST(n_days AS DECIMAL(38,0)) * 100")).as("day_mean"),
        expr(graft.functions.Exact.rate6(
          "CAST(sd * 100 AS DECIMAL(38,0)) * ntd",
          "CAST(n_days AS DECIMAL(38,0)) * CAST(st * 100 AS DECIMAL(38,0))"))
          .as("seasonal_index"))
  }

  /** OLS discount elasticity: per return flag, the least-squares line
    * quantity ~ discount — does discounting move volume? The moment
    * sums are DECIMAL-exact (both columns are 2-dp values, so x, y,
    * xy, x^2, y^2 are exact 4-dp decimals whose sums are
    * order-independent), and the closed-form slope / intercept / r2
    * are computed from those exact scalars with the formula mirrored
    * term-for-term — bitwise cross-engine, no aggregated-double noise
    * anywhere. One partial-agg groupBy on the bounded flag key. */
  def qDiscountOls(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_discount").cast("decimal(18,2)")
    val y = col("l_quantity").cast("decimal(18,2)")
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * y).cast("decimal(38,4)")).as("sxy"),
        sum((x * x).cast("decimal(38,4)")).as("sxx"),
        sum((y * y).cast("decimal(38,4)")).as("syy"))
      .select(col("l_returnflag"), col("n"),
        // num/den/deny written ONCE as vals would still inline the
        // same expression tree; pow() is avoided because pow(x, 2)
        // is not guaranteed bitwise-equal to x * x across libms
        expr(s"round($OLS_NUM / $OLS_DEN, 6)").as("slope"),
        expr(s"round((CAST(sy AS DOUBLE) - ($OLS_NUM / $OLS_DEN) * CAST(sx AS DOUBLE)) / n, 6)")
          .as("intercept"),
        expr(s"round(($OLS_NUM * $OLS_NUM) / ($OLS_DEN * $OLS_DENY), 6)").as("r2"))
  }

  /** The OLS closed-form fragments — ONE string each, spliced into
    * BOTH the Spark selectExpr and the DuckDB oracle so the engines
    * evaluate literally the same expression text over the same exact
    * decimal sums. */
  private val OLS_NUM =
    "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
  private val OLS_DEN =
    "(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
  private val OLS_DENY =
    "(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"

  /** Holt smoothing weights (level alpha, trend beta; 1-beta is
    * written literally as 0.7 on BOTH sides — 1.0 - 0.3 is the
    * DIFFERENT double 0.7000000000000001). */
  private val HOLT_ALPHA = 0.5
  private val HOLT_BETA = 0.3

  /** Holt double-exponential smoothing of the daily revenue series —
    * the level+trend forecaster between the seasonal-naive baseline
    * and a real model: l_t = a x_t + (1-a)(l_{t-1} + b_{t-1}),
    * b_t = B (l_t - l_{t-1}) + (1-B) b_{t-1}, one-step forecast
    * f_t = l_{t-1} + b_{t-1}; init l_1 = x_1, b_1 = 0. The fact table
    * reduces to the DAY-bounded series (DECIMAL-exact daily sums —
    * the qDailyCumulative discipline); the recursion is inherently
    * sequential over that bounded frame, so it runs on the driver and
    * returns a literal frame (the lloyd pattern) — at 100 TB the
    * daily series is still calendar-sized. Smoothed states carry
    * UNROUNDED through the recursion in both engines (the oracle is a
    * recursive CTE mirroring each expression in order); outputs round
    * 6. */
  def qHoltForecast(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(38,2)")).as("rev"))
      .collect()
      .map(r => (r.getDate(0), r.getDecimal(1).doubleValue))
      .sortBy(_._1.getTime)
    var l = daily.head._2
    var b = 0.0
    val rows = daily.head match { case (d0, x0) =>
      org.apache.spark.sql.Row(d0, x0, r6(l), r6(b), null) +:
        daily.tail.map { case (d, x) =>
          val fc = l + b
          val nl = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
          val nb = HOLT_BETA * (nl - l) + 0.7 * b
          l = nl; b = nb
          org.apache.spark.sql.Row(d, x, r6(l), r6(b), r6(fc))
        }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("day", DateType), StructField("rev", DoubleType),
      StructField("level", DoubleType), StructField("trend", DoubleType),
      StructField("forecast", DoubleType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Weighted price quartiles: below what unit price does 25/50/75%
    * of the shipped QUANTITY sit, per return flag — the
    * quantity-weighted question the unweighted percentile family
    * cannot answer (a cheap SKU shipped by the pallet moves the
    * weighted median; the unweighted one counts it once). Runs on the
    * weighted entry of the [[Quantiles]] engine: bounded-state bucket
    * refinement with DECIMAL-exact weight masses, so the threshold
    * comparison cumW >= p*W is exact and the answer is the oracle's
    * min-value-reaching-the-mass, never a float near-tie; `w_total` is
    * the total weight its fused first pass already sums. */
  def qWeightedQuartiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
    val (qs, totals) = Quantiles.weightedGroupedWithTotals(
      li, "l_returnflag", "l_extendedprice", "l_quantity", Seq(0.25, 0.5, 0.75))
    qs.toSeq.sortBy(_._1)
      .map { case (g, m) =>
        (g, totals(g).doubleValue, m(0.25), m(0.5), m(0.75))
      }
      .toDF("l_returnflag", "w_total", "p25_price", "p50_price", "p75_price")
  }

  /** Minimum gap count before a user's cadence is judged, and the
    * coefficient-of-variation cut below which it reads as scripted. */
  private val BOT_MIN_GAPS = 20L
  private val BOT_CV_CUT = 0.3

  /** Bot-cadence report (abuse-detection primitive next to the
    * velocity rule): per sufficiently active user, the coefficient of
    * variation of their inter-event gaps — humans burst and pause
    * (cv >= 1 typically), schedulers fire metronomically (cv near 0),
    * so a low cv over many events is the classic scripted-traffic
    * signature. One per-user lag window (hash-partitioned by user,
    * never global) + one per-user aggregate; both moments round 6
    * BEFORE the cv division and the flag compares the rounded cv, so
    * the verdict is engine-stable. */
  def qBotRegularity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(col("user_id"),
        (col("ts").cast("double") - col("prev_ts").cast("double")).as("gap_s"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        round(avg("gap_s"), 6).as("mean_gap_s"),
        round(stddev_pop(col("gap_s")), 6).as("sd_gap_s"))
      .filter(col("n_gaps") >= BOT_MIN_GAPS && col("mean_gap_s") > 0.0)
      .withColumn("cv", round(col("sd_gap_s") / col("mean_gap_s"), 6))
      .withColumn("metronomic", col("cv") < BOT_CV_CUT)
      .select("user_id", "n_gaps", "mean_gap_s", "sd_gap_s", "cv", "metronomic")
  }

  /** Two-proportion A/B z-test on user conversion — the experiment
    * readout every product pipeline runs: variant = user_id parity
    * (the deterministic stand-in for an assignment column),
    * conversion = the user fired >= 14 purchases (every user on this
    * corpus purchases at least once, so the threshold sits at the
    * per-user median and splits the population instead of
    * degenerating to rate 1.0). One shuffle on
    * user_id folds each user to a (variant, converted) bit; the
    * z-statistic is closed-form over the four resulting counters, so
    * the whole test is two bounded aggregations regardless of event
    * volume. Integer counters cross the engines exactly; the one
    * float expression (pooled z) is a mirrored per-row formula. */
  def qAbTest(spark: SparkSession, dir: String): DataFrame =
    abTestOf(t(spark, dir, "events"))

  /** The A/B readout over any events-shaped frame. */
  def abTestOf(ev: DataFrame): DataFrame = {
    val perUser = ev
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1).otherwise(0)) >= 14, 1)
        .otherwise(0).as("conv"))
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
    val arms = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
    val wide = arms.agg(
      max(when(col("variant") === 0, col("n_users"))).as("n_a"),
      max(when(col("variant") === 0, col("n_conv"))).as("conv_a"),
      max(when(col("variant") === 1, col("n_users"))).as("n_b"),
      max(when(col("variant") === 1, col("n_conv"))).as("conv_b"))
    wide.select(
      col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      expr(graft.functions.Exact.rate6("conv_a", "n_a")).as("rate_a"),
      expr(graft.functions.Exact.rate6("conv_b", "n_b")).as("rate_b"),
      // degenerate arms (pooled rate 0 or 1) have zero pooled variance:
      // z is undefined -> NULL, identically in both engines via nullif
      round(
        (col("conv_b").cast("double") / col("n_b") - col("conv_a").cast("double") / col("n_a")) /
          nullif(sqrt(((col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))) *
            (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), lit(0.0)), 6).as("z"))
  }

  /** Peak concurrency per day — the classic interval sweep re-shaped
    * for partition locality: each event opens a 30-minute presence
    * window, clamped to its day so every (+1, -1) boundary pair stays
    * inside one day partition; the running sum that counts open
    * windows then runs under a DAY-partitioned window, never a global
    * sort. Ties process closers first (delta asc), making the
    * intervals half-open. */
  def qConcurrency(spark: SparkSession, dir: String): DataFrame =
    concurrencyOf(t(spark, dir, "events"))

  /** The interval sweep over any events-shaped frame. */
  def concurrencyOf(ev: DataFrame): DataFrame = {
    // both boundary points inherit the OPENING event's day (a closer
    // clamped to exactly midnight must not fall into the next day's
    // partition, where it would start that day's running sum at -1)
    val pts = ev
      .select(to_date(col("ts")).as("day"), col("ts").as("ts0"))
      .select(col("day"), explode(array(
        struct(col("ts0").as("tp"), lit(1).as("delta")),
        struct(least(col("ts0") + expr("INTERVAL 30 MINUTES"),
          date_add(col("day"), 1).cast("timestamp")).as("tp"),
          lit(-1).as("delta")))).as("p"))
      .select(col("day"), col("p.tp").as("tp"), col("p.delta").as("delta"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day").orderBy(col("tp"), col("delta"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    pts.withColumn("open", sum("delta").over(w))
      .groupBy("day").agg(max("open").as("peak_concurrency"))
  }

  /** Per-customer rolling 30-day revenue at each order — the RANGE
    * window frame (interval lookback on an ordered time axis), the
    * one frame type the window inventory didn't yet cover: ROWS
    * frames count rows, RANGE frames cut on the ORDER-BY value, which
    * is what "last 30 days" actually means when order counts vary.
    * Ordered on epoch seconds so both engines cut the frame on
    * identical integers; revenue sums are DECIMAL-exact inside the
    * frame (order-independent), cast to double once per row. One
    * hash-partitioned window on the customer key — the frame never
    * leaves the partition. */
  def qRolling30d(spark: SparkSession, dir: String): DataFrame =
    rolling30dOf(t(spark, dir, "orders"))

  /** The rolling-window revenue over any orders-shaped frame. */
  def rolling30dOf(orders: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("ep"))
      .rangeBetween(-30L * 86400, 0)
    orders
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("ep"),
        col("o_totalprice").cast("decimal(38,2)").as("price"))
      .withColumn("r30", sum("price").over(w).cast("double"))
      .select("o_custkey", "o_orderkey", "r30")
  }

  /** Best supplier per part (lowest observed unit price, ties to the
    * lower suppkey) — the greatest-n-per-group shape solved WITHOUT a
    * window: min(struct(price, key)) rides partial aggregation, so
    * the answer comes out of one map-side-combined groupBy instead of
    * a rank-1 filter over a sorted window — at 100 TB that is the
    * difference between a partial-aggregated shuffle of one struct
    * per (part, supplier) and sorting every group. Unit prices are
    * quantity-normalized doubles; the min pair is unique per part by
    * the (price, suppkey) tiebreak, so the result is deterministic. */
  def qBestSupplier(spark: SparkSession, dir: String): DataFrame =
    bestSupplierOf(t(spark, dir, "lineitem"))

  /** The argmin rollup over any lineitem-shaped frame. */
  def bestSupplierOf(li: DataFrame): DataFrame =
    li
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("unit_price"), col("l_suppkey"))).as("m"))
      .select(col("l_partkey"),
        col("m.l_suppkey").as("best_suppkey"),
        round(col("m.unit_price"), 6).as("best_unit_price"))

  /** Seasonal-naive forecast backtest — the baseline every real
    * forecasting effort must beat, and a legit data product in its
    * own right: forecast for a day = the actual seven rows earlier in
    * the daily series (same weekday on a dense calendar), scored by
    * MAE and signed bias over every scoreable day. Daily revenues
    * accumulate as DECIMAL (order-independent), the absolute-error
    * sum stays DECIMAL, and the single division + round(6) happens on
    * exact totals, so the whole backtest is cross-engine exact. The
    * lag window runs over the DAY-bounded aggregate, never the fact
    * table (the daily-cumulative discipline). */
  def qBacktestSnaive(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(38,2)")).as("rev"))
    val w = Window.orderBy("day")
    daily.withColumn("rev7", lag("rev", 7).over(w))
      .filter(col("rev7").isNotNull)
      .agg(count(lit(1)).as("n_days_scored"),
        sum(abs(col("rev") - col("rev7"))).as("sabs"),
        sum(col("rev") - col("rev7")).as("sdiff"))
      // mae/bias: exact DECIMAL(38,2) sums over a count — scale the
      // numerator to cents and both by 100 so the quotient is pure
      // integer; bias is signed (HALF_UP away from zero)
      .select(col("n_days_scored"),
        expr(graft.functions.Exact.rate6(
          "CAST(sabs * 100 AS DECIMAL(38,0))",
          "CAST(n_days_scored AS DECIMAL(38,0)) * 100")).as("mae"),
        expr(graft.functions.Exact.srate6(
          "CAST(sdiff * 100 AS DECIMAL(38,0))",
          "CAST(n_days_scored AS DECIMAL(38,0)) * 100")).as("bias"))
  }

  /** Revenue LTV cohort triangle: customers grouped by first-order
    * month, revenue accumulated per months-since-acquisition — the
    * lifetime-value curve per acquisition vintage (the orders-side
    * sibling of the events retention grid). One window-min per
    * customer for the cohort anchor (customer-partitioned), one
    * DECIMAL-exact rollup on the bounded (cohort, age) grid. */
  def qLtvCohorts(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(38,2)").as("price"))
      .withColumn("first_month", date_trunc("month", min("o_orderdate").over(w)))
      .withColumn("age_months",
        (months_between(date_trunc("month", col("o_orderdate")), col("first_month")))
          .cast("int"))
      .groupBy(to_date(col("first_month")).as("cohort_month"), col("age_months"))
      .agg(countDistinct("o_custkey").as("n_customers"),
        count(lit(1)).as("n_orders"),
        sum("price").cast("double").as("revenue"))
  }

  /** Nation-to-nation trade-flow matrix (the TPC-H Q5-family shape
    * with BOTH nation dimensions): line revenue grouped by supplier
    * nation x customer nation — a five-table star join where every
    * dimension broadcasts and only the fact table shuffles into the
    * final bounded (25 x 25 ceiling) rollup. DECIMAL-exact revenue. */
  def qTradeFlows(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(38,6)").as("rev"))
    val nat = t(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val supp = t(spark, dir, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = t(spark, dir, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("supp_nation", "cust_nation")
      .agg(count(lit(1)).as("n_lines"),
        round(sum("rev").cast("double"), 2).as("revenue"))
  }

  /** Herfindahl-Hirschman concentration index of supplier revenue —
    * the antitrust-style number that finishes the concentration
    * family next to Gini/Pareto/ABC: HHI = sum of squared revenue
    * shares (1/n = perfect competition, 1 = monopoly). Supplier
    * revenues accumulate as DECIMAL (order-independent); the shares
    * are one double division each against the broadcast exact total,
    * and the squared-share sum rounds at 6 (terms ~1e-6, sub-ulp
    * order drift ~1e-19 — the section-4 convention). */
  def qSupplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(38,6)")).as("rev"))
    val total = rev.agg(sum("rev").as("total"))
    rev.crossJoin(broadcast(total))
      .select((col("rev").cast("double") / col("total").cast("double")).as("share"))
      .agg(count(lit(1)).as("n_suppliers"),
        round(sum(col("share") * col("share")), 6).as("hhi"))
  }

  /** Population Stability Index per event type (the standard
    * model-monitoring drift metric from the public credit-scoring
    * literature): PSI = sum over bins of (p - q) * ln(p / q) between
    * the daytime and nighttime value populations, on 10 fixed-width
    * value bins with add-one smoothing (so empty bins contribute a
    * finite, identical term in both engines). Everything up to the
    * final 10-term fold is integer counts; the fold rounds at 6.
    * One partial-aggregated pass builds the bounded (type, bin,
    * half) grid; the PSI fold runs on that tiny frame. */
  def qPsi(spark: SparkSession, dir: String, binW: Double = 20.0): DataFrame =
    psiOf(t(spark, dir, "events"), binW)

  /** The PSI report over any (event_type, ts, value) frame. */
  def psiOf(events: DataFrame, binW: Double = 20.0): DataFrame = {
    val spark = events.sparkSession
    val ev = events
      .select(col("event_type"),
        when(hour(col("ts")) < 12, "day").otherwise("night").as("half"),
        least(floor(col("value") / binW), lit(9)).cast("int").as("bin"))
    val cells = ev.groupBy("event_type", "half", "bin").agg(count(lit(1)).as("c"))
    val totals = cells.groupBy("event_type", "half").agg(sum("c").as("n"))
    // dense (type, bin) grid so empty bins smooth instead of vanishing
    val grid = cells.select("event_type").distinct()
      .crossJoin(broadcast(spark.range(0, 10).select(col("id").cast("int").as("bin"))))
    // totals join is LEFT with coalesce(n, 0): a type with ZERO events
    // in one half is the maximal-drift case PSI exists to catch — an
    // inner join dropped it from the report entirely (round-8 advice);
    // with the dense grid + smoothing it now scores a large finite PSI
    // (empty half rates = 1/10 per bin)
    def rate(half: String) = grid
      .join(cells.filter(col("half") === half).select(col("event_type"), col("bin"), col("c")),
        Seq("event_type", "bin"), "left")
      .join(totals.filter(col("half") === half).select(col("event_type"), col("n")),
        Seq("event_type"), "left")
      .select(col("event_type"), col("bin"),
        ((coalesce(col("c"), lit(0L)) + lit(1)).cast("double") /
          (coalesce(col("n"), lit(0L)) + lit(10))).as(s"r_$half"))
    rate("day").join(rate("night"), Seq("event_type", "bin"))
      .groupBy("event_type")
      .agg(round(sum((col("r_day") - col("r_night")) *
        log(col("r_day") / col("r_night"))), 6).as("psi"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_psi" -> ((s: SparkSession, d: String) => qPsi(s, d)),
    "supplier_hhi" -> (qSupplierHhi _),
    "orders_backtest_snaive" -> (qBacktestSnaive _),
    "orders_ltv_cohorts" -> (qLtvCohorts _),
    "trade_flows" -> (qTradeFlows _),
    "events_ab_test" -> (qAbTest _),
    "events_concurrency" -> (qConcurrency _),
    "orders_rolling_30d" -> (qRolling30d _),
    "part_best_supplier" -> (qBestSupplier _),
    "basket_lift" -> ((s: SparkSession, d: String) => qBasketLift(s, d)),
    "basket_triples" -> ((s: SparkSession, d: String) => qBasketTriples(s, d)),
    "orders_abc" -> (qAbc _),
    "events_seasonal_anomaly" -> (qSeasonalAnomaly _),
    "orders_pareto" -> (qPareto _),
    "embed_gram" -> (qEmbedGram _),
    "embed_label_qc" -> (qEmbedLabelQc _),
    "events_bounce_rate" -> (qBounceRate _),
    "events_gap_quantiles" -> (qGapQuantiles _),
    "events_bot_regularity" -> (qBotRegularity _),
    "lineitem_weighted_quartiles" -> (qWeightedQuartiles _),
    "orders_holt_forecast" -> (qHoltForecast _),
    "lineitem_discount_ols" -> (qDiscountOls _),
    "orders_weekday_index" -> (qWeekdayIndex _),
    "embed_qc" -> (qEmbedQc _),
    "revenue_share" -> (qRevenueShare _),
    "events_chi2" -> (qChi2 _),
    "events_user_entropy" -> (qUserEntropy _),
    "events_skew_report" -> ((s: SparkSession, d: String) => qSkewReport(s, d)),
    "lineitem_profile" -> (qColumnProfile _),
    "orders_daily_cumulative" -> (qDailyCumulative _),
    "events_mad_anomaly" -> (qMadAnomaly _),
    "lineitem_corr" -> (qCorrMatrix _),
    "orders_trend" -> (qOrdersTrend _),
    "agg_incremental" -> (qAggIncremental _),
    "events_change_points" -> ((s: SparkSession, d: String) => qChangePoints(s, d)),
    "hist2d_qty_price" -> ((s: SparkSession, d: String) => qHist2d(s, d)))

  val oracleSql: Map[String, String] = Map(
    "events_psi" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CASE WHEN hour(ts) < 12 THEN 'day' ELSE 'night' END AS half,
        |    CAST(least(floor(value / 20.0), 9) AS INT) AS bin
        |  FROM events),
        |cells AS (SELECT event_type, half, bin, count(*) AS c
        |  FROM e GROUP BY 1, 2, 3),
        |totals AS (SELECT event_type, half, sum(c) AS n
        |  FROM cells GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT event_type, CAST(b AS INT) AS bin
        |  FROM cells, (SELECT unnest(range(10)) AS b)),
        |d AS (SELECT g.event_type, g.bin,
        |    CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (coalesce(t.n, 0) + 10) AS r_day
        |  FROM grid g
        |  LEFT JOIN cells c ON c.event_type = g.event_type
        |    AND c.bin = g.bin AND c.half = 'day'
        |  LEFT JOIN totals t ON t.event_type = g.event_type AND t.half = 'day'),
        |nt AS (SELECT g.event_type, g.bin,
        |    CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (coalesce(t.n, 0) + 10) AS r_night
        |  FROM grid g
        |  LEFT JOIN cells c ON c.event_type = g.event_type
        |    AND c.bin = g.bin AND c.half = 'night'
        |  LEFT JOIN totals t ON t.event_type = g.event_type AND t.half = 'night')
        |SELECT event_type,
        |  round(sum((r_day - r_night) * ln(r_day / r_night)), 6) AS psi
        |FROM d JOIN nt USING (event_type, bin)
        |GROUP BY event_type""".stripMargin,
    "supplier_hhi" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(rev) AS total FROM rev)
        |SELECT count(*) AS n_suppliers,
        |  round(sum(share * share), 6) AS hhi
        |FROM (SELECT CAST(rev AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |      FROM rev CROSS JOIN t)""".stripMargin,
    "orders_ltv_cohorts" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate,
        |    CAST(o_totalprice AS DECIMAL(38,2)) AS price,
        |    date_trunc('month', min(o_orderdate)
        |      OVER (PARTITION BY o_custkey)) AS first_month
        |  FROM orders)
        |SELECT CAST(first_month AS DATE) AS cohort_month,
        |  CAST(date_diff('month', first_month,
        |    date_trunc('month', o_orderdate)) AS INT) AS age_months,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |  count(*) AS n_orders,
        |  CAST(sum(price) AS DOUBLE) AS revenue
        |FROM o GROUP BY 1, 2""".stripMargin,
    "trade_flows" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  count(*) AS n_lines,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "orders_backtest_snaive" ->
      s"""WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
        |  FROM orders GROUP BY 1),
        |l AS (SELECT day, rev,
        |    lag(rev, 7) OVER (ORDER BY day) AS rev7
        |  FROM daily)
        |SELECT count(*) AS n_days_scored,
        |  ${graft.functions.Exact.duck6("CAST(sum(abs(rev - rev7)) * 100 AS HUGEINT)",
             "count(*) * 100")} AS mae,
        |  ${graft.functions.Exact.sduck6("CAST(sum(rev - rev7) * 100 AS HUGEINT)",
             "count(*) * 100")} AS bias
        |FROM l WHERE rev7 IS NOT NULL""".stripMargin,
    "orders_rolling_30d" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS r30
        |FROM orders""".stripMargin,
    "part_best_supplier" ->
      """WITH up AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS unit_price
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_partkey, l_suppkey, unit_price,
        |    row_number() OVER (PARTITION BY l_partkey
        |                       ORDER BY unit_price, l_suppkey) AS rn
        |  FROM up)
        |SELECT l_partkey, l_suppkey AS best_suppkey,
        |  round(unit_price, 6) AS best_unit_price
        |FROM r WHERE rn = 1""".stripMargin,
    "events_ab_test" ->
      s"""WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |      THEN 1 ELSE 0 END AS conv,
        |    CAST(user_id % 2 AS INT) AS variant
        |  FROM events GROUP BY user_id),
        |arms AS (SELECT variant, count(*) AS n_users, sum(conv) AS n_conv
        |  FROM u GROUP BY variant),
        |w AS (SELECT
        |    CAST(max(CASE WHEN variant = 0 THEN n_users END) AS BIGINT) AS n_a,
        |    CAST(max(CASE WHEN variant = 0 THEN n_conv END) AS BIGINT) AS conv_a,
        |    CAST(max(CASE WHEN variant = 1 THEN n_users END) AS BIGINT) AS n_b,
        |    CAST(max(CASE WHEN variant = 1 THEN n_conv END) AS BIGINT) AS conv_b
        |  FROM arms)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  ${graft.functions.Exact.duck6("conv_a", "n_a")} AS rate_a,
        |  ${graft.functions.Exact.duck6("conv_b", "n_b")} AS rate_b,
        |  round((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
        |    / nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |      * (1.0 / n_a + 1.0 / n_b)), 0.0), 6) AS z
        |FROM w""".stripMargin,
    "events_concurrency" ->
      """WITH pts AS (
        |  SELECT CAST(ts AS DATE) AS day, ts AS tp, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT CAST(ts AS DATE) AS day,
        |    least(ts + INTERVAL 30 MINUTE,
        |          CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS TIMESTAMP)) AS tp,
        |    -1 AS delta
        |  FROM events),
        |run AS (SELECT day,
        |    sum(delta) OVER (PARTITION BY day ORDER BY tp, delta
        |                     ROWS UNBOUNDED PRECEDING) AS open
        |  FROM pts)
        |SELECT day, CAST(max(open) AS BIGINT) AS peak_concurrency
        |FROM run GROUP BY day""".stripMargin,
    "orders_abc" ->
      """WITH per AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT o_custkey, rev,
        |    sum(rev) OVER (ORDER BY rev DESC, o_custkey ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(rev) OVER () AS tot
        |  FROM per),
        |c AS (SELECT CASE WHEN cum <= tot * 0.80 THEN 'A'
        |    WHEN cum <= tot * 0.95 THEN 'B' ELSE 'C' END AS cls, rev FROM r)
        |SELECT cls, count(*) AS n_customers,
        |  round(CAST(sum(rev) AS DOUBLE), 2) AS revenue
        |FROM c GROUP BY cls""".stripMargin,
    "events_seasonal_anomaly" ->
      """WITH ev AS (SELECT event_id, event_type,
        |    CAST(hour(ts) AS INT) AS hod, value FROM events),
        |st AS (SELECT event_type, hod, count(*) AS n,
        |    round(avg(value), 6) AS mu,
        |    round(stddev_pop(value), 6) AS sigma
        |  FROM ev GROUP BY event_type, hod)
        |SELECT event_id, event_type, hod, value,
        |  round((value - mu) / sigma, 6) AS z
        |FROM ev JOIN st USING (event_type, hod)
        |WHERE n >= 30 AND sigma > 0
        |  AND abs(round((value - mu) / sigma, 6)) > 3.0""".stripMargin,
    "embed_label_qc" ->
      """WITH ex AS (SELECT vec_id, label, CAST(r.i AS INT) AS i,
        |    CAST(embedding[CAST(r.i AS INT)] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN range(1, 65) r(i)
        |  WHERE r.i <= len(embedding)),
        |c AS (SELECT label, i, round(avg(x), 6) AS c
        |  FROM ex GROUP BY label, i),
        |coh AS (SELECT label, count(*) AS n_vecs,
        |    round(avg(dist), 6) AS mean_dist
        |  FROM (SELECT e.vec_id, e.label,
        |      sqrt(sum((e.x - c.c) * (e.x - c.c))) AS dist
        |    FROM ex e JOIN c ON c.label = e.label AND c.i = e.i
        |    GROUP BY e.vec_id, e.label)
        |  GROUP BY label),
        |nrm AS (SELECT label, round(sqrt(sum(c * c)), 6) AS centroid_norm
        |  FROM c GROUP BY label),
        |sep AS (SELECT la AS label, round(min(cd), 6) AS min_sep
        |  FROM (SELECT a.label AS la, b.label AS lb,
        |      sqrt(sum((a.c - b.c) * (a.c - b.c))) AS cd
        |    FROM c a JOIN c b ON a.i = b.i AND a.label != b.label
        |    GROUP BY a.label, b.label)
        |  GROUP BY la)
        |SELECT label, n_vecs, centroid_norm, mean_dist, min_sep
        |FROM coh JOIN nrm USING (label) JOIN sep USING (label)""".stripMargin,
    "embed_gram" ->
      s"""WITH xs AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> ${graft.functions.MicroGrid.sqlQuantize("CAST(x AS DOUBLE)")}) AS qs
        |  FROM embeddings),
        |g AS (SELECT CAST(r.i AS INT) AS i, CAST(s.j AS INT) AS j,
        |    qs[CAST(r.i AS INT)] * qs[CAST(s.j AS INT)] AS p
        |  FROM xs
        |  CROSS JOIN range(1, 65) r(i)
        |  CROSS JOIN range(1, 65) s(j)
        |  WHERE s.j >= r.i AND r.i <= len(qs) AND s.j <= len(qs))
        |SELECT i, j, count(*) AS n,
        |  ${graft.functions.MicroGrid.sqlRoundDiv6("sum(p)", "CAST(1000000 AS HUGEINT)")} AS gram
        |FROM g GROUP BY i, j""".stripMargin,
    "orders_pareto" ->
      s"""WITH per AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT o_custkey, rev,
        |    CAST(row_number() OVER (ORDER BY rev ASC, o_custkey ASC) AS BIGINT) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM per),
        |a AS (SELECT max(n) AS n_customers,
        |    sum(rev) AS t,
        |    sum(CAST(i AS DECIMAL(20,0)) * rev) AS w,
        |    sum(CASE WHEN i > n - greatest(1, n // 10)
        |        THEN rev ELSE CAST(0 AS DECIMAL(38,2)) END) AS top
        |  FROM r)
        |SELECT n_customers,
        |  CAST(t AS DOUBLE) AS total_revenue,
        |  ${graft.functions.Exact.sduck6(
             "2 * CAST(w * 100 AS HUGEINT) - (n_customers + 1) * CAST(t * 100 AS HUGEINT)",
             "n_customers * CAST(t * 100 AS HUGEINT)")} AS gini,
        |  ${graft.functions.Exact.duck6("CAST(top * 100 AS HUGEINT)",
             "CAST(t * 100 AS HUGEINT)")} AS top_decile_share
        |FROM a""".stripMargin,
    "basket_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(*) AS n_orders FROM orders),
        |pp AS (SELECT l_partkey, count(*) AS n_orders_part FROM li GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_together
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 2)
        |SELECT pa, pb, n_together,
        |  CAST((2 * CAST(n_together AS HUGEINT) * n.n_orders * 1000000
        |          + CAST(na.n_orders_part AS HUGEINT) * nb.n_orders_part)
        |       // (2 * CAST(na.n_orders_part AS HUGEINT) * nb.n_orders_part)
        |    AS DOUBLE) / 1000000.0 AS lift
        |FROM pairs
        |JOIN pp na ON na.l_partkey = pa
        |JOIN pp nb ON nb.l_partkey = pb
        |CROSS JOIN n""".stripMargin,
    "basket_triples" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(*) AS n_orders FROM orders),
        |l2 AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |op AS (
        |  SELECT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey),
        |opf AS (SELECT op.* FROM op SEMI JOIN l2 USING (pa, pb)),
        |cand AS (
        |  SELECT opf.pa, opf.pb, c.l_partkey AS pc
        |  FROM opf JOIN li c ON c.l_orderkey = opf.l_orderkey
        |  WHERE opf.pb < c.l_partkey),
        |candf AS (
        |  SELECT cand.* FROM cand
        |  SEMI JOIN l2 ac ON ac.pa = cand.pa AND ac.pb = cand.pc
        |  SEMI JOIN l2 bc ON bc.pa = cand.pb AND bc.pb = cand.pc),
        |tri AS (
        |  SELECT pa, pb, pc, count(*) AS n_together
        |  FROM candf GROUP BY 1, 2, 3
        |  HAVING count(*) >= 2)
        |SELECT pa, pb, pc, n_together,
        |  CAST((2 * CAST(n_together AS HUGEINT) * 1000000 + n_orders)
        |       // (2 * CAST(n_orders AS HUGEINT)) AS DOUBLE) / 1000000.0
        |    AS support
        |FROM tri CROSS JOIN n""".stripMargin,
    "events_bounce_rate" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sessions AS (
        |  SELECT user_id,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged),
        |per AS (
        |  SELECT user_id, session_id, count(*) AS n_events
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    AS bounce_rate
        |FROM per GROUP BY user_id""".stripMargin,
    "orders_weekday_index" ->
      s"""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
        |  FROM orders GROUP BY 1),
        |bd AS (SELECT dayofweek(day) + 1 AS dow, count(*) AS n_days,
        |    CAST(sum(n_orders) AS BIGINT) AS n_orders,
        |    sum(rev) AS sd
        |  FROM d GROUP BY 1),
        |tt AS (SELECT count(*) AS ntd, sum(rev) AS st FROM d)
        |SELECT dow, n_days, n_orders,
        |  CAST(sd AS DOUBLE) AS revenue,
        |  ${graft.functions.Exact.duck6("CAST(sd * 100 AS HUGEINT)",
             "n_days * 100")} AS day_mean,
        |  ${graft.functions.Exact.duck6("CAST(sd * 100 AS HUGEINT) * ntd",
             "n_days * CAST(st * 100 AS HUGEINT)")} AS seasonal_index
        |FROM bd CROSS JOIN tt""".stripMargin,
    "lineitem_discount_ols" ->
      s"""WITH a AS (SELECT l_returnflag, count(*) AS n,
         |    sum(CAST(l_discount AS DECIMAL(18,2))) AS sx,
         |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sy,
         |    sum(CAST(CAST(l_discount AS DECIMAL(18,2))
         |      * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy,
         |    sum(CAST(CAST(l_discount AS DECIMAL(18,2))
         |      * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
         |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
         |      * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |  round($OLS_NUM / $OLS_DEN, 6) AS slope,
         |  round((CAST(sy AS DOUBLE) - ($OLS_NUM / $OLS_DEN) * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
         |  round(($OLS_NUM * $OLS_NUM) / ($OLS_DEN * $OLS_DENY), 6) AS r2
         |FROM a""".stripMargin,
    "orders_holt_forecast" ->
      """WITH RECURSIVE i AS (
        |  SELECT day, rev, row_number() OVER (ORDER BY day) AS rn FROM (
        |    SELECT CAST(o_orderdate AS DATE) AS day,
        |      CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS rev
        |    FROM orders GROUP BY 1)),
        |h AS (
        |  SELECT rn, day, rev, rev AS level, CAST(0 AS DOUBLE) AS trend,
        |    CAST(NULL AS DOUBLE) AS forecast
        |  FROM i WHERE rn = 1
        |  UNION ALL
        |  SELECT i.rn, i.day, i.rev,
        |    CAST(0.5 AS DOUBLE) * i.rev + CAST(0.5 AS DOUBLE) * (h.level + h.trend),
        |    CAST(0.3 AS DOUBLE)
        |      * ((CAST(0.5 AS DOUBLE) * i.rev + CAST(0.5 AS DOUBLE) * (h.level + h.trend))
        |         - h.level)
        |      + CAST(0.7 AS DOUBLE) * h.trend,
        |    h.level + h.trend
        |  FROM h JOIN i ON i.rn = h.rn + 1)
        |SELECT day, rev, round(level, 6) AS level, round(trend, 6) AS trend,
        |  round(forecast, 6) AS forecast
        |FROM h""".stripMargin,
    "lineitem_weighted_quartiles" ->
      """WITH c AS (SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
        |    l_quantity AS w FROM lineitem WHERE l_quantity > 0),
        |pv AS (SELECT g, v, sum(w) AS wv FROM c GROUP BY g, v),
        |cw AS (SELECT g, v, sum(wv) OVER (PARTITION BY g ORDER BY v) AS cum FROM pv),
        |tw AS (SELECT g, sum(w) AS tw FROM c GROUP BY g),
        |j AS (SELECT cw.g, v, cum, tw.tw FROM cw JOIN tw USING (g))
        |SELECT g AS l_returnflag, CAST(min(tw) AS DOUBLE) AS w_total,
        |  min(CASE WHEN cum >= 0.25 * tw THEN v END) AS p25_price,
        |  min(CASE WHEN cum >= 0.50 * tw THEN v END) AS p50_price,
        |  min(CASE WHEN cum >= 0.75 * tw THEN v END) AS p75_price
        |FROM j GROUP BY g""".stripMargin,
    "events_bot_regularity" ->
      """WITH gaps AS (
        |  SELECT user_id,
        |    CAST(epoch(ts) - epoch(lag(ts) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id)) AS DOUBLE) AS gap_s
        |  FROM events),
        |per AS (
        |  SELECT user_id, count(*) AS n_gaps,
        |    round(avg(gap_s), 6) AS mean_gap_s,
        |    round(stddev_pop(gap_s), 6) AS sd_gap_s
        |  FROM gaps WHERE gap_s IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_gaps, mean_gap_s, sd_gap_s,
        |  round(sd_gap_s / mean_gap_s, 6) AS cv,
        |  round(sd_gap_s / mean_gap_s, 6) < 0.3 AS metronomic
        |FROM per WHERE n_gaps >= 20 AND mean_gap_s > 0.0""".stripMargin,
    "events_gap_quantiles" ->
      """WITH gaps AS (
        |  SELECT event_type,
        |    CAST(epoch(ts) - epoch(lag(ts) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id)) AS DOUBLE) AS gap_s
        |  FROM events)
        |SELECT event_type,
        |  quantile_cont(gap_s, 0.5) AS p50_gap_s,
        |  quantile_cont(gap_s, 0.9) AS p90_gap_s
        |FROM gaps WHERE gap_s IS NOT NULL GROUP BY event_type""".stripMargin,
    "embed_qc" ->
      """WITH v AS (
        |  SELECT sqrt(list_aggregate(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
        |    len(embedding) AS dim
        |  FROM embeddings)
        |SELECT count(*) AS n_vecs,
        |  count(DISTINCT dim) AS n_dims_distinct,
        |  CAST(min(dim) AS INT) AS dim,
        |  CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
        |  round(min(nrm), 6) AS min_norm,
        |  round(max(nrm), 6) AS max_norm
        |FROM v""".stripMargin,
    "revenue_share" ->
      s"""WITH per AS (
        |  SELECT o_orderpriority, sum(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(rev) AS tot FROM per)
        |SELECT o_orderpriority, CAST(rev AS DOUBLE) AS revenue,
        |  ${graft.functions.Exact.duck6("CAST(rev * 100 AS HUGEINT)",
             "CAST(tot * 100 AS HUGEINT)")} AS share
        |FROM per CROSS JOIN t""".stripMargin,
    "events_chi2" ->
      """WITH obs AS (
        |  SELECT event_type, hour(ts) AS hr, CAST(count(*) AS DOUBLE) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(o) AS rt FROM obs GROUP BY 1),
        |ct AS (SELECT hr, sum(o) AS ct FROM obs GROUP BY 1),
        |g AS (SELECT sum(o) AS n FROM obs)
        |SELECT round(sum((o - rt * ct / n) * (o - rt * ct / n) / (rt * ct / n)), 6) AS chi2,
        |  (count(DISTINCT obs.event_type) - 1) * (count(DISTINCT obs.hr) - 1) AS df,
        |  CAST(min(n) AS BIGINT) AS n_events
        |FROM obs JOIN rt USING (event_type) JOIN ct USING (hr) CROSS JOIN g""".stripMargin,
    "events_user_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT user_id, CAST(min(tot) AS BIGINT) AS n_events,
        |  count(*) AS n_types,
        |  round(0.0 - sum((CAST(n AS DOUBLE) / tot) * log2(CAST(n AS DOUBLE) / tot)), 6)
        |    AS entropy_bits
        |FROM c JOIN t USING (user_id) GROUP BY user_id""".stripMargin,
    "events_skew_report" ->
      """WITH per AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |st AS (SELECT avg(n) AS avg_n FROM per)
        |SELECT user_id, n, round(n / avg_n, 6) AS skew_ratio
        |FROM per CROSS JOIN st
        |ORDER BY n DESC, user_id ASC LIMIT 10""".stripMargin,
    "lineitem_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  round(min($c), 6) AS min_v, round(max($c), 6) AS max_v,
           |  ${graft.functions.Exact.duck6(
                  s"CAST(sum(CAST($c AS DECIMAL(38,6))) * 1000000 AS HUGEINT)",
                  s"count($c) * 1000000")} AS mean_v
           |FROM lineitem""".stripMargin).mkString(" UNION ALL ")
    },
    "orders_daily_cumulative" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT day, n_orders, revenue,
        |  CAST(sum(CAST(revenue AS DECIMAL(38,2))) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue
        |FROM daily""".stripMargin,
    "events_mad_anomaly" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN abs(e.value - m.med) > 3.0 * d.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  round(min(m.med), 6) AS med_value,
        |  round(min(d.mad), 6) AS mad_value
        |FROM events e
        |JOIN med m USING (event_type)
        |JOIN mad d ON d.event_type = e.event_type
        |GROUP BY 1""".stripMargin,
    "lineitem_corr" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      (for (i <- cols.indices; j <- i + 1 until cols.length) yield
        s"SELECT '${cols(i)}' AS var_a, '${cols(j)}' AS var_b, " +
          s"round(corr(${cols(i)}, ${cols(j)}), 6) AS r FROM lineitem")
        .mkString(" UNION ALL ")
    },
    "orders_trend" ->
      """WITH s AS (
        |  SELECT o_orderpriority,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(CAST(date_diff('day', DATE '2020-01-01', o_orderdate) AS DECIMAL(38,10))) AS sx,
        |    sum(CAST(o_totalprice AS DECIMAL(38,10))) AS sy,
        |    sum(CAST(date_diff('day', DATE '2020-01-01', o_orderdate) * o_totalprice AS DECIMAL(38,10))) AS sxy,
        |    sum(CAST(CAST(date_diff('day', DATE '2020-01-01', o_orderdate) AS DOUBLE) *
        |        CAST(date_diff('day', DATE '2020-01-01', o_orderdate) AS DOUBLE) AS DECIMAL(38,10))) AS sxx
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n_orders,
        |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        |  round((CAST(sy AS DOUBLE) -
        |    ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |     (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
        |    CAST(sx AS DOUBLE)) / n, 6) AS intercept
        |FROM s""".stripMargin,
    "agg_incremental" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 1) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin,
    "events_change_points" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events)
        |SELECT user_id, count(*) AS n_changes,
        |  min(ts) AS first_change_ts,
        |  round(max(abs(value - prev_value)), 6) AS max_jump
        |FROM lagged
        |WHERE prev_value IS NOT NULL AND abs(value - prev_value) > 50.0
        |GROUP BY 1""".stripMargin,
    "hist2d_qty_price" ->
      """SELECT CAST(floor(l_quantity / 10.0) AS BIGINT) AS qty_bucket,
        |  CAST(floor(l_extendedprice / 20000.0) AS BIGINT) AS price_bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY 1, 2""".stripMargin)
}
