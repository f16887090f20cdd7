package graft.clustering

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Exact.r6

/** Distributed Lloyd's k-means, re-expressing kmeans.java:91-202
  * (spark_kmeans) Spark-first:
  *
  *  - the point set stays a cached DataFrame on executors; only the K
  *    centers move through the driver per iteration (the reference
  *    instead re-parallelizes and re-broadcasts the whole dataset and
  *    collects every assignment each iteration — kmeans.java:94-101,
  *    184 — which is a driver OOM at scale);
  *  - assign is a flat codegen'd expression (K distances + argmin), no
  *    UDF, no shuffle;
  *  - the centroid update is one partial-aggregating groupBy(k) — the
  *    map-side combine the reference hand-wrote with combineByKey
  *    (kmeans.java:124-185);
  *  - empty clusters keep their previous center (deterministic variant
  *    of the reference's random reseed, kmeans.java:192-195).
  *
  * Centers are rounded to 6 decimals each iteration on BOTH the Spark
  * and the oracle side, so cross-engine float summation order cannot
  * drift the trajectories apart (SURVEY.md §4).
  */
object KMeans extends graft.Registry {
  import Points.{dims, distTo, ptsSql}

  /** Add `k` (nearest-center index, ties -> lowest k, matching the
    * reference's strict-> compare at kmeans.java:113) and `dist`.
    * Generic over the dimension column set.
    *
    * High-dim point sets (> 16 dims) switch from unrolled per-dim
    * expressions to ONE fused multi-center loop over a packed array
    * (graft.functions.L2DistArr, centers as a flattened reference
    * object — the pqEncode shape): same left-to-right add order
    * (bitwise-identical result, oracle unchanged) but generated code
    * O(1) in both K and D — 8 centers x 64 dims unrolled was a
    * multi-second codegen compile per stage, and even K separate
    * sqrt(squared_l2d(xs, lit)) trees overflowed janino's 64 KB method
    * limit once a HashAggregate inlined them (the IVF batch-assign
    * stage silently dropped to interpreted execution; PlanAuditSpec
    * gates it). Versus the original `aggregate(zip_with(...))` HOF
    * this also drops interpreted lambda dispatch plus an intermediate
    * diffs array per (row, center) — K x corpus evaluations in every
    * Lloyd/IVF-training pass (L2DistArrSpec pins the bitwise
    * equivalence). */
  def assign(points: DataFrame, centers: Array[Array[Double]],
             ds: Seq[String] = dims): DataFrame = {
    val assigned =
      if (ds.length <= 16) {
        points.withColumn("dist_arr", array(centers.map(c => distTo(c, ds)): _*))
      } else {
        points.withColumn("dist_arr",
          graft.functions.GraftFunctions.l2DistArr(array(ds.map(col): _*), centers))
      }
    assigned
      .withColumn("dist", array_min(col("dist_arr")))
      .withColumn("k", (array_position(col("dist_arr"), col("dist")) - 1).cast("int"))
      .drop("dist_arr")
  }

  /** Per-cluster size + mean center (round 6 = the determinism spec),
    * then any `extra` aggregates after c1..cD. */
  def update(assigned: DataFrame, ds: Seq[String], extra: Column*): DataFrame =
    assigned.groupBy("k").agg(
      count(lit(1)).as("n"),
      ds.zipWithIndex.map { case (d, i) =>
        round(avg(col(d)), 6).as(s"c${i + 1}")
      } ++ extra: _*)

  def update(assigned: DataFrame): DataFrame = update(assigned, dims)

  /** The Lloyd iteration: `iters` passes of update(assign(...)) from
    * `init`, one Spark job each; only the K centers move through the
    * driver. Returns the final centers and the last pass's rows
    * (k, n, c1..cD, one per non-empty cluster). Caching `pts` is the
    * caller's business. ClusterSql.lloydChainSql is its oracle. */
  def train(pts: DataFrame, init: Array[Array[Double]], iters: Int,
            ds: Seq[String] = dims): (Array[Array[Double]], Array[Row]) = {
    var centers = init
    var rows = Array.empty[Row]
    for (_ <- 1 to iters) {
      rows = update(assign(pts, centers, ds), ds).collect()
      centers = reseed(centers, rows, ds)
    }
    (centers, rows)
  }

  /** The next centers from one pass's rows: an empty cluster keeps its
    * previous center (deterministic variant of the reference's random
    * reseed, kmeans.java:192-195). */
  private def reseed(centers: Array[Array[Double]], rows: Array[Row],
                     ds: Seq[String]): Array[Array[Double]] = {
    val byK = rows.map(r => r.getAs[Int]("k") ->
      ds.indices.map(i => r.getDouble(2 + i)).toArray).toMap
    Array.tabulate(centers.length)(i => byK.getOrElse(i, centers(i)))
  }

  /** Full Lloyd loop from the first-K init. Returns the final
    * per-cluster summary (k, n, c1..cD). */
  def lloyd(points: DataFrame, k: Int, iters: Int,
            ds: Seq[String] = dims): DataFrame =
    lloydWith(points, p => Points.firstKCenters(p, k, ds), iters, ds)

  /** Lloyd with a pluggable center init (deterministic first-K or
    * Points.randomCenters — kmeans.java:240-248's create_center). */
  def lloydWith(points: DataFrame, init: DataFrame => Array[Array[Double]],
                iters: Int, ds: Seq[String] = dims): DataFrame = {
    val pts = points.cache()
    try {
      val (centers, lastRows) = train(pts, init(pts), iters, ds)
      // the result is K rows and already on the driver: return a literal
      // frame so the point cache can be released immediately (a lazy
      // plan over the cache would leak it for the caller's lifetime)
      val schema = update(assign(pts, centers, ds), ds).schema
      val spark = points.sparkSession
      spark.createDataFrame(spark.sparkContext.parallelize(lastRows.toSeq, 1), schema)
    } finally { points.unpersist(); () }
  }

  // ---- driver-contract queries ----------------------------------------

  private val K = 4
  private val ITERS = 5

  def qAssign(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4d(spark, dir)
    assign(pts, Points.firstKCenters(pts, K)).select("pid", "k", "dist")
  }

  def qUpdate(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4d(spark, dir)
    update(assign(pts, Points.firstKCenters(pts, K)))
  }

  /** SSE objective of the first-K assignment, reported scale-safely as
    * (n, avg distance): avg keeps cross-engine float error ~1e-11
    * relative where a raw 1e9-magnitude sum would not round stably.
    * Reference tracks sum-of-min-dist (kmeans.java:186-191); avg = sse/n. */
  def qSse(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4d(spark, dir)
    assign(pts, Points.firstKCenters(pts, K))
      .agg(count(lit(1)).as("n"), round(avg(col("dist")), 3).as("avg_dist"))
  }

  def qFull(spark: SparkSession, dir: String): DataFrame =
    lloyd(Points.lineitem4dSpread(spark, dir), K, ITERS)

  // elbow sweep: few k values, short loops — the oracle unrolls
  // ELBOW_KS.size full Lloyd chains, so both stay deliberately small
  private val ELBOW_KS = Seq(2, 3, 4, 6)
  private val ELBOW_ITERS = 2

  /** Elbow sweep: the SSE-vs-k curve (reported scale-safely as
    * (n, avg min-distance) per k, the qSse convention) after
    * ELBOW_ITERS Lloyd iterations for each candidate k — the standard
    * model-selection diagnostic the reference's fixed-k runs leave to
    * the user. ONE cached pass over the points serves every k; each
    * k's loop is the same deterministic first-K-init trajectory as
    * kmeans_full, so the whole sweep is oracled. */
  /** The elbow sweep's per-k FINAL centers, trained once per
    * (JVM, dir) — the stagedFinalCenters discipline applied to the
    * whole candidate-k ladder: the elbow and the BIC/AIC criteria
    * evaluate the same deterministic trajectories, so re-running
    * ELBOW_KS full Lloyd loops per metric buys nothing. Driver
    * memory: sum(k) x dims doubles. */
  private def stagedElbowCenters(pts: DataFrame, dir: String): Map[Int, Array[Array[Double]]] =
    graft.Memo.value(dir, "kmeans-elbow-centers") {
      ELBOW_KS.map(k => k -> train(pts, Points.firstKCenters(pts, k), ELBOW_ITERS)._1).toMap
    }

  def qElbow(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4dSpread(spark, dir).cache()
    try {
      val byK = stagedElbowCenters(pts, dir)
      val rows = ELBOW_KS.map { k =>
        val r = assign(pts, byK(k))
          .agg(count(lit(1)).as("n"), round(avg(col("dist")), 3).as("avg_dist"))
          .collect()(0)
        (k, r.getLong(0), r.getDouble(1))
      }
      import spark.implicits._
      rows.toDF("k_clusters", "n", "avg_dist")
    } finally { pts.unpersist(); () }
  }

  /** (n, Σ round(dist² · 1e3)) over an assignment, exact in both
    * engines. dist² sums at ~1e12 magnitude accumulate more double
    * error than the round-6 grid resolves — the round-13 dual-layout
    * sweep caught results flipping with the partition layout. The
    * MicroGrid fix: quantize each dist² on a scale-3 grid per row
    * (|dist² * 1e3| stays under 2^52, so the scale-0 decision is exact
    * in both engines) and sum the integers (order-free). Quantize ONCE
    * per row with the fp fast path: for 0 <= y < 2^52, floor(y + 0.5)
    * is bit-equal to the oracle's round(y) (ties are representable,
    * the +0.5 add is exact), and the max-aggregate guard proves every
    * row was in range AND the BIGINT sum cannot wrap — codegen long
    * adds instead of the per-row BigDecimal walk Spark's round() takes
    * on doubles (measured 0.9 -> 4.2 s per bench rep on the 4-pass
    * sweep). */
  private def quantizedSqDist(assigned: DataFrame): (Long, BigInt) = {
    val r = assigned
      .withColumn("__zq", expr("CAST(floor(dist * dist * 1000.0 + 0.5D) AS BIGINT)"))
      .agg(count(lit(1)).as("n"), sum("__zq").as("sq"), max("__zq").as("mx"))
      .collect()(0)
    val n = r.getLong(0)
    require(r.getLong(2) < 4500000000000000L &&
      BigInt(r.getLong(2)) * n <= Long.MaxValue,
      s"quantized dist^2 out of exact range (n=$n max=${r.getLong(2)})")
    (n, BigInt(r.getLong(1)))
  }

  /** BIC/AIC model selection over the elbow trajectory (the X-means
    * family's answer to "which k": the SSE-based information criteria
    * BIC = n ln(SSE/n) + kD ln(n), AIC = n ln(SSE/n) + 2kD charge the
    * variance drop against the parameter count, and the k minimizing
    * BIC is the selected model — an argmin the eyeballed elbow only
    * approximates). Same deterministic per-k Lloyd chains as qElbow
    * (first-K init, ELBOW_ITERS sweeps), one extra sum(dist^2)
    * aggregate per k; the criteria arithmetic runs driver-side on the
    * ELBOW_KS.size-row result, mirrored term-for-term in the oracle
    * (ln noise across libm/Java <= 1 ulp — invisible at round 6). */
  def qBic(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4dSpread(spark, dir).cache()
    try {
      val d = dims.size
      val byK = stagedElbowCenters(pts, dir)
      val rows = ELBOW_KS.map { k =>
        val (n, sq) = quantizedSqDist(assign(pts, byK(k)))
        // msd rounds by exact integer division: msd*1e6 = sq*1e3 / n
        val msd = graft.functions.MicroGrid.roundDiv6(sq * 1000L, BigInt(n))
        val fit = n * math.log(msd)
        (k, n, msd, r6(fit + (k * d) * math.log(n.toDouble)), r6(fit + 2 * k * d))
      }
      val bestK = rows.minBy(t => (t._4, t._1))._1
      import spark.implicits._
      rows.map(t => (t._1, t._2, t._3, t._4, t._5, t._1 == bestK))
        .toDF("k_clusters", "n", "mean_sq_dist", "bic", "aic", "is_best")
    } finally { pts.unpersist(); () }
  }

  /** SIMPLIFIED silhouette per cluster over the kmeans_full solution —
    * the cluster-quality metric next to the SSE objective: for each
    * point, a = distance to its own (final) center, b = distance to
    * the nearest OTHER center, s = (b - a) / max(a, b); report each
    * cluster's size and mean s. The simplified (centroid-based) form
    * is the one that scales: the full silhouette's a/b are mean
    * PAIRWISE distances (O(n^2) — dead at any real corpus size),
    * while this is one O(nK) assign-shaped pass over the final
    * centers, distributable exactly like assign itself. Same
    * deterministic trajectory as kmeans_full -> fully oracled. */
  /** The kmeans_full FINAL centers (first-K init, ITERS Lloyd
    * sweeps), trained once per (JVM, dir) — the staged-model-state
    * discipline the search family's coarse quantizer uses: both
    * cluster-quality metrics evaluate the same deterministic
    * solution, so re-running the 5-sweep driver loop per metric buys
    * nothing. K x dims doubles of driver memory. */
  private def stagedFinalCenters(pts: DataFrame, dir: String): Array[Array[Double]] =
    graft.Memo.value(dir, "kmeans-final-centers") {
      train(pts, Points.firstKCenters(pts, K), ITERS)._1
    }

  def qSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4d(spark, dir).cache()
    try {
      val centers = stagedFinalCenters(pts, dir)
      val s = pts
        .withColumn("dist_arr", array(centers.map(c => Points.distTo(c)): _*))
        .withColumn("a", array_min(col("dist_arr")))
        .withColumn("k", (array_position(col("dist_arr"), col("a")) - 1).cast("int"))
        .withColumn("b", expr("array_min(filter(dist_arr, (x, i) -> i != k))"))
        .withColumn("s", when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), round(avg("s"), 6).as("mean_silhouette"))
      val rows = s.collect()
      val schema = s.schema
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
    } finally { pts.unpersist(); () }
  }

  /** Davies-Bouldin index over the kmeans_full solution — the other
    * standard internal cluster-quality metric beside the silhouette:
    * per-cluster scatter s_i = mean distance of members to their own
    * (final) center, pairwise center separation d_ij, and each
    * cluster's component DB_i = max_{j != i} (s_i + s_j) / d_ij
    * (lower = tighter, better-separated clusters; the index itself is
    * the mean of the components). The distributed work is ONE
    * assign-shaped aggregate (K scatter rows); the K x K fold runs on
    * the driver over K collected rows — never a join, so the plan
    * stays audit-clean. Deterministic trajectory -> fully oracled. */
  def qDaviesBouldin(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4d(spark, dir).cache()
    try {
      val centers = stagedFinalCenters(pts, dir)
      val scatter = assign(pts, centers)
        .groupBy("k")
        .agg(count(lit(1)).as("n"), round(avg("dist"), 6).as("s"))
        .collect()
        .map(r => r.getAs[Int]("k") -> (r.getAs[Long]("n"), r.getAs[Double]("s")))
        .toMap
      // K x K on the driver: same left-fold add order as the oracle's
      // SQL so the doubles are bitwise-identical
      def d(i: Int, j: Int): Double = math.sqrt(
        dims.indices.map { x =>
          val df = centers(i)(x) - centers(j)(x); df * df
        }.reduce(_ + _))
      val rows = (0 until K).filter(scatter.contains).map { i =>
        val db = (0 until K).filter(j => j != i && scatter.contains(j))
          .map(j => (scatter(i)._2 + scatter(j)._2) / d(i, j)).max
        // HALF_UP to match the round(x, 6) both engines use elsewhere
        Row(i, scatter(i)._1, scatter(i)._2, r6(db))
      }
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("k", IntegerType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("scatter", DoubleType, nullable = false),
        StructField("db_component", DoubleType, nullable = false)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    } finally { pts.unpersist(); () }
  }

  /** Calinski-Harabasz index over the kmeans_full solution — the
    * third standard internal validation metric beside the silhouette
    * and Davies-Bouldin (variance-ratio criterion, Calinski & Harabasz
    * 1974): CH = (B/(k-1)) / (W/(n-k)) with B = Σ n_i·||c_i − c̄||²
    * (between-cluster scatter vs the ROUNDED-6 global centroid, the
    * same rounding the Lloyd chain applies to every cluster mean) and
    * W = Σ dist² (within-cluster squared scatter). Higher = tighter,
    * better-separated. Distributed work is one assign-shaped aggregate
    * plus a 1-row global-mean aggregate; the K-term B fold runs on the
    * driver. B and W are ROUNDED-3 before the ratio (the oracleSse
    * precision discipline: a cross-partition double sum's last ulp is
    * fold-order-dependent), so the final ratio is engine-stable. */
  def qCalinskiHarabasz(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4d(spark, dir).cache()
    try {
      val centers = stagedFinalCenters(pts, dir)
      val fa = assign(pts, centers)
      // W = Σ quantized dist² / 1e3: BigInt.toDouble and DuckDB's
      // HUGEINT->DOUBLE cast are both correctly rounded, so w is
      // identical cross-engine at any magnitude (exactly the 3-decimal
      // while wq < 2^53)
      val (n, wq) = quantizedSqDist(fa)
      val w = wq.toDouble / 1000.0
      val gmCols = dims.map(d => round(avg(col(d)), 6).as(d))
      val gmRow = pts.agg(gmCols.head, gmCols.tail: _*).collect()(0)
      val gm = dims.indices.map(gmRow.getDouble).toArray
      val sizes = fa.groupBy("k").agg(count(lit(1)).as("n_i")).collect()
        .map(r => r.getAs[Int]("k") -> r.getLong(1)).toMap
      val kUsed = sizes.size.toLong
      // B's K-bounded terms are products of round-6 grid values, so the
      // raw sum's true value sits on a decimal grid CONTAINING the
      // 0.5e-3 midpoints (the §4 structural-tie class): quantize each
      // term scale-3 (exact decision) and sum the integers instead.
      val bq = (0 until K).filter(sizes.contains).map { i =>
        val sq = dims.indices.map { x =>
          val d0 = centers(i)(x) - gm(x); d0 * d0
        }.reduce(_ + _)
        graft.functions.MicroGrid.quantizeBig(sizes(i).toDouble * sq, 1000.0)
      }.sum
      val b = bq.toDouble / 1000.0
      val ch = r6((b / (kUsed - 1)) / (w / (n - kUsed)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("k_used", LongType, nullable = false),
        StructField("b", DoubleType, nullable = false),
        StructField("w", DoubleType, nullable = false),
        StructField("ch", DoubleType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row(n, kUsed, b, w, ch)), 1), schema)
    } finally { pts.unpersist(); () }
  }

  private val calinskiHarabaszSql: String = {
    val gmCols = dims.zipWithIndex.map { case (d, i) =>
      s"round(avg($d), 6) AS g${i + 1}" }.mkString(", ")
    val bExpr = dims.indices.map(x =>
      s"(c.c${x + 1} - g${x + 1}) * (c.c${x + 1} - g${x + 1})").mkString(" + ")
    s"""WITH pts AS ($ptsSql),
       |$c0Sql,
       |$finalChainSql,
       |tot AS (SELECT count(*) AS n,
       |    CAST(sum(CAST(round(dist * dist * 1000.0) AS HUGEINT)) AS DOUBLE)
       |      / 1000.0 AS w FROM fa),
       |gm AS (SELECT $gmCols FROM pts),
       |sz AS (SELECT k, count(*) AS n_i FROM fa GROUP BY k),
       |bb AS (SELECT
       |    CAST(sum(CAST(round(CAST(n_i AS DOUBLE) * ($bExpr) * 1000.0) AS HUGEINT))
       |      AS DOUBLE) / 1000.0 AS b,
       |    CAST(count(*) AS BIGINT) AS k_used
       |  FROM sz JOIN u$ITERS c USING (k) CROSS JOIN gm)
       |SELECT n, k_used, b, w,
       |  round((b / (k_used - 1)) / (w / (n - k_used)), 6) AS ch
       |FROM tot CROSS JOIN bb""".stripMargin
  }

  /** Unrolled Davies-Bouldin oracle: the kmeans_full chain, final
    * assign, per-cluster scatter, then the pairwise fold in SQL over
    * the K-row frames (tiny cross join in DuckDB only — the Spark
    * side does this on the driver). */
  private val daviesBouldinSql: String = {
    val dExpr = dims.indices.map(x =>
      s"(a.c${x + 1} - b.c${x + 1}) * (a.c${x + 1} - b.c${x + 1})").mkString(" + ")
    s"""WITH pts AS ($ptsSql),
       |$c0Sql,
       |$finalChainSql,
       |sc AS (SELECT k, count(*) AS n, round(avg(dist), 6) AS s FROM fa GROUP BY k),
       |comp AS (SELECT sa.k, sa.n, sa.s,
       |    max((sa.s + sb.s) / sqrt($dExpr)) AS db
       |  FROM sc sa JOIN u$ITERS a ON a.k = sa.k
       |       JOIN sc sb ON sb.k != sa.k JOIN u$ITERS b ON b.k = sb.k
       |  GROUP BY sa.k, sa.n, sa.s)
       |SELECT k, n, s AS scatter, round(db, 6) AS db_component FROM comp""".stripMargin
  }
  private val silhouetteSql: String = {
    val bExpr = "least(" + (0 until K).map(j =>
      s"CASE WHEN k = $j THEN CAST('infinity' AS DOUBLE) ELSE d$j END").mkString(", ") + ")"
    s"""WITH pts AS ($ptsSql),
       |$c0Sql,
       |$finalChainSql,
       |sil AS (SELECT k, dist AS a, $bExpr AS b FROM fa)
       |SELECT k, count(*) AS n,
       |  round(avg(CASE WHEN greatest(a, b) = 0 THEN 0 ELSE (b - a) / greatest(a, b) END), 6) AS mean_silhouette
       |FROM sil GROUP BY k""".stripMargin
  }

  // ---- oracle SQL (see ClusterSql for the shared generators) ----------

  /** Centers CTE c0: first K points by (pid, dims). */
  private def c0Sql: String = ClusterSql.c0Sql(K, ptsSql, dims)

  /** The kmeans_full chain plus its final assignment `fa`. */
  private def finalChainSql: String =
    ClusterSql.lloydChainSql(K, ITERS, "c0", dims, finalAssign = "fa")

  val oracleAssign: String = ClusterSql.assignOnlySql(K, ptsSql, dims)

  val oracleUpdate: String = ClusterSql.fullLloydSql(K, 1, ptsSql, dims)

  val oracleSse: String =
    s"""WITH pts AS ($ptsSql),
       |$c0Sql,
       |${ClusterSql.widenSql(K, "c0", "c0w")},
       |${ClusterSql.assignSql(K, "c0w", "a1")}
       |SELECT count(*) AS n, round(avg(dist), 3) AS avg_dist FROM a1""".stripMargin

  /** The full Lloyd loop, unrolled into widen/assign/update CTE sets. */
  val oracleFull: String = ClusterSql.fullLloydSql(K, ITERS, ptsSql, dims)

  /** The per-k unrolled Lloyd chains the elbow AND the BIC/AIC
    * oracles share: one namespaced chain per candidate k, each
    * finishing with the final assignment table e{k}af. */
  private val elbowChainsSql: String = ELBOW_KS.map { k =>
    val p = s"e$k"
    s"""${ClusterSql.c0Sql(k, ptsSql, dims, s"${p}c0")},
       |${ClusterSql.lloydChainSql(k, ELBOW_ITERS, s"${p}c0", dims, p = p, finalAssign = "af")}""".stripMargin
  }.mkString(",\n")

  /** The elbow sweep's oracle: each chain's final assignment yields
    * the (n, avg dist) point on the curve. */
  val oracleElbow: String = {
    val selects = ELBOW_KS.map(k =>
      s"SELECT CAST($k AS INT) AS k_clusters, count(*) AS n, " +
        s"round(avg(dist), 3) AS avg_dist FROM e${k}af").mkString("\nUNION ALL ")
    s"""WITH pts AS ($ptsSql),
       |$elbowChainsSql
       |$selects""".stripMargin
  }

  /** BIC/AIC oracle: the same chains, scored by the information
    * criteria (ln mirrored; libm-vs-Java ln differ by <= 1 ulp, which
    * is ~1e-10 at these magnitudes — invisible at round 6). */
  val oracleBic: String = {
    // mirrors the Spark side's MicroGrid discipline: scale-3 quantized
    // dist^2, exact HUGEINT sum, msd = exact integer round-6 division
    val stats = ELBOW_KS.map(k =>
      s"SELECT CAST($k AS INT) AS k_clusters, count(*) AS n, " +
        s"sum(CAST(round(dist * dist * 1000.0) AS HUGEINT)) AS sq FROM e${k}af").mkString("\nUNION ALL ")
    val msd6 = graft.functions.MicroGrid.sqlRoundDiv6(
      "sq * 1000", "CAST(n AS HUGEINT)")
    s"""WITH pts AS ($ptsSql),
       |$elbowChainsSql,
       |stats AS ($stats),
       |scored AS (SELECT k_clusters, n,
       |    $msd6 AS mean_sq_dist,
       |    round(n * ln($msd6) + (k_clusters * ${dims.size}) * ln(n), 6) AS bic,
       |    round(n * ln($msd6) + 2 * k_clusters * ${dims.size}, 6) AS aic
       |  FROM stats),
       |best AS (SELECT k_clusters AS bk FROM scored
       |         ORDER BY bic, k_clusters LIMIT 1)
       |SELECT k_clusters, n, mean_sq_dist, bic, aic,
       |  k_clusters = bk AS is_best
       |FROM scored CROSS JOIN best""".stripMargin
  }

  /** Min-max normalization of the point set — completing the
    * reference's read-time min/max stats (kmeans.java:219-230, which
    * computes but never applies them). The 1-row stats aggregate is
    * cross-joined (broadcast) so scaling is a pure per-row projection;
    * identical arithmetic on identical min/max makes the oracle match
    * bitwise with no rounding. */
  def qNormalize(spark: SparkSession, dir: String): DataFrame =
    normalizeFrom(Points.lineitem4d(spark, dir), spark, dir)

  /** The min-max scaling projection over a caller-chosen point frame —
    * factored out so the ITERATIVE consumer (qNormalizedKmeans, which
    * caches the result and runs init + 3 update jobs over it) can feed
    * the layout-adaptive spread view while the single-pass
    * dataset_normalize keeps the plain scan (the opt-in spread bar). */
  private def normalizeFrom(pts: DataFrame, spark: SparkSession,
                            dir: String): DataFrame = {
    val statsRow = Points.stats(spark, dir)
    pts.crossJoin(broadcast(statsRow))
      .select(col("pid") +: dims.map(d =>
        ((col(d) - col(s"min_$d")) / (col(s"max_$d") - col(s"min_$d"))).as(s"n_$d")): _*)
  }

  private val normalizeSql: String = {
    val stats = dims.map(d => s"min($d) AS min_$d, max($d) AS max_$d").mkString(", ")
    val scaled = dims.map(d => s"($d - min_$d) / (max_$d - min_$d) AS n_$d").mkString(", ")
    s"""WITH pts AS ($ptsSql),
       |st AS (SELECT $stats FROM pts)
       |SELECT pid, $scaled FROM pts CROSS JOIN st""".stripMargin
  }

  /** Per-dim quantiles (dim -> p -> value) from the bounded-state
    * exact-quantile engine (graft.relational.Quantiles) over the dims
    * melted long — no single-buffer percentile aggregate. */
  private def dimQuantiles(pts: DataFrame, ps: Seq[Double]): Map[String, Map[Double, Double]] =
    graft.relational.Quantiles.grouped(pts.select(expr(
      s"stack(${dims.size}, ${dims.map(d => s"'$d', $d").mkString(", ")}) as (g, v)")),
      "g", "v", ps)

  /** Robust (median/IQR) scaling of the point set — the outlier-proof
    * sibling of min-max normalization (a single extreme value pins
    * min-max scaling to a corner; quartiles don't move). The per-dim
    * quartiles come from the bounded-state exact-quantile engine
    * (graft.relational.Quantiles) over the dims melted long — no
    * single-buffer percentile aggregate — and land as literals, so
    * the scaling is a pure codegen'd per-row projection; identical
    * arithmetic on bitwise-identical quartiles keeps the oracle exact
    * with no rounding. */
  def qRobustScale(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4d(spark, dir)
    val qs = dimQuantiles(pts, Seq(0.25, 0.5, 0.75))
    pts.select(col("pid") +: dims.map { d =>
      val med = qs(d)(0.5)
      val iqr = qs(d)(0.75) - qs(d)(0.25)
      ((col(d) - lit(med)) / lit(iqr)).as(s"r_$d")
    }: _*)
  }

  /** Percentile winsorization: clip each dim to its [p05, p95] — the
    * outlier-taming prep a robust pipeline applies before scaling
    * (extreme values saturate at the cutoffs instead of dominating
    * min-max or mean statistics). Cutoffs come from the bounded-state
    * quantile engine and are rounded to 6 decimals ON BOTH SIDES
    * before clipping, so a sub-ulp interpolation difference between
    * engines cannot flip a clip decision; the clip itself is a pure
    * codegen'd least/greatest projection. */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4d(spark, dir)
    val qs = dimQuantiles(pts, Seq(0.05, 0.95))
    pts.select(col("pid") +: dims.map { d =>
      least(greatest(col(d), lit(r6(qs(d)(0.05)))), lit(r6(qs(d)(0.95))))
        .as(s"w_$d")
    }: _*)
  }

  private val winsorizeSql: String = {
    val stats = dims.map(d =>
      s"round(quantile_cont($d, 0.05), 6) AS lo_$d, " +
        s"round(quantile_cont($d, 0.95), 6) AS hi_$d").mkString(", ")
    val clipped = dims.map(d => s"least(greatest($d, lo_$d), hi_$d) AS w_$d").mkString(", ")
    s"""WITH pts AS ($ptsSql),
       |st AS (SELECT $stats FROM pts)
       |SELECT pid, $clipped FROM pts CROSS JOIN st""".stripMargin
  }

  /** kmeans|| oracle: rounds unrolled as CTEs over a growing candidate
    * set. Duplicate rows per pid are handled by grouping distinct
    * (pid, dims) with multiplicity cnt (cnt/nc rows of the cross
    * join), so phi and the weights count ROWS exactly like the Spark
    * side; phi is rounded 6 on both sides before the draw threshold. */
  // lazy: SCAL_L/SCAL_ROUNDS are declared later in the file; an eager
  // val would capture their zero defaults mid-construction
  private lazy val scalableInitSql: String = {
    val dcols = dims.mkString(", ")
    def dist(p: String, c: String) =
      "sqrt(" + dims.zipWithIndex.map { case (d, j) =>
        s"($p.$d - $c.k${j + 1}) * ($p.$d - $c.k${j + 1})"
      }.mkString(" + ") + ")"
    val u = (r: Int) => graft.pipeline.Mix.u24SliceSql(s"md5(CAST(d$r.pid AS VARCHAR))", (r - 1) * 6)
    val rounds = (1 to SCAL_ROUNDS).map { r =>
      s"""d$r AS (SELECT p.pid, ${dims.map(d => s"p.$d").mkString(", ")},
         |    count(*) AS cnt, min(${dist("p", "c")}) AS dmin
         |  FROM pts p CROSS JOIN cset${r - 1} c
         |  GROUP BY p.pid, ${dims.map(d => s"p.$d").mkString(", ")}),
         |n$r AS (SELECT count(*) AS nc FROM cset${r - 1}),
         |phi$r AS (SELECT round(sum((cnt / nc) * dmin * dmin), 6) AS phi
         |  FROM d$r CROSS JOIN n$r),
         |s$r AS (SELECT pid, ${dims.zipWithIndex.map { case (d, j) =>
        s"min($d) AS k${j + 1}" }.mkString(", ")}
         |  FROM d$r CROSS JOIN phi$r
         |  WHERE ${u(r)} < $SCAL_L * (dmin * dmin) / phi
         |    AND pid NOT IN (SELECT pid FROM cset${r - 1})
         |  GROUP BY pid),
         |cset$r AS (SELECT * FROM cset${r - 1}
         |  UNION ALL SELECT pid, $r AS rnd, ${(1 to dims.size).map(j => s"k$j").mkString(", ")} FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH pts AS ($ptsSql),
       |cset0 AS (SELECT CAST(pid AS BIGINT) AS pid, 0 AS rnd,
       |    ${dims.zipWithIndex.map { case (d, j) => s"$d AS k${j + 1}" }.mkString(", ")}
       |  FROM (SELECT * FROM pts ORDER BY pid, $dcols LIMIT 1)),
       |$rounds,
       |fa AS (SELECT p.pid, $dcols, c.pid AS cand_pid, c.rnd,
       |    ${dist("p", "c")} AS dist
       |  FROM pts p CROSS JOIN cset$SCAL_ROUNDS c),
       |nf AS (SELECT count(*) AS nc FROM cset$SCAL_ROUNDS),
       |pk AS (SELECT *,
       |    row_number() OVER (PARTITION BY pid, $dcols
       |      ORDER BY dist ASC, rnd ASC, cand_pid ASC) AS rn,
       |    count(*) OVER (PARTITION BY pid, $dcols) AS cc
       |  FROM fa),
       |w AS (SELECT cand_pid, CAST(sum(cc / nc) AS BIGINT) AS weight
       |  FROM pk CROSS JOIN nf WHERE rn = 1 GROUP BY cand_pid)
       |SELECT c.pid AS cand_pid, coalesce(w.weight, 0) AS weight
       |FROM cset$SCAL_ROUNDS c LEFT JOIN w ON w.cand_pid = c.pid""".stripMargin
  }

  private val quantileTransformSql: String = {
    val ps = (1 to 9).map(_ / 10.0)
    val stats = dims.flatMap(d => ps.zipWithIndex.map { case (p, i) =>
      s"round(quantile_cont($d, $p), 6) AS c${i}_$d" }).mkString(", ")
    val bucket = dims.map(d =>
      ps.indices.map(i => s"CASE WHEN $d >= c${i}_$d THEN 1 ELSE 0 END")
        .mkString("(", " + ", s") AS q_$d")).mkString(", ")
    s"""WITH pts AS ($ptsSql),
       |st AS (SELECT $stats FROM pts)
       |SELECT pid, $bucket FROM pts CROSS JOIN st""".stripMargin
  }

  private val robustScaleSql: String = {
    val stats = dims.map(d =>
      s"quantile_cont($d, 0.5) AS med_$d, " +
        s"quantile_cont($d, 0.75) - quantile_cont($d, 0.25) AS iqr_$d").mkString(", ")
    val scaled = dims.map(d => s"($d - med_$d) / iqr_$d AS r_$d").mkString(", ")
    s"""WITH pts AS ($ptsSql),
       |st AS (SELECT $stats FROM pts)
       |SELECT pid, $scaled FROM pts CROSS JOIN st""".stripMargin
  }

  // k-means|| oversampling factor and round count (small so the
  // oracle's unrolled rounds stay readable; candidates ~ L*ROUNDS+1)
  private val SCAL_L = 8.0
  private val SCAL_ROUNDS = 3

  /** Scalable k-means|| initialization (the public Bahmani et al.
    * algorithm — the init DESIGNED for a cluster, replacing k-means++'s
    * k sequential full passes with ROUNDS passes that each sample
    * ~L candidates in parallel): per round, every point computes its
    * distance to the nearest candidate so far and joins the candidate
    * set with probability min(1, L * d^2 / phi) — here a DETERMINISTIC
    * hash-Bernoulli draw (the same md5 u24 uniform the split/sample
    * gates use, keyed by (round, pid)), which makes the whole
    * oversampling pass reproducible and fully oracled. Output is the
    * candidate set with its weights (points nearest to each candidate)
    * — exactly what the final driver-side weighted clustering (the
    * k-sized re-cluster, MLlib's kmeans|| step 2) consumes.
    *
    * Scale + perf shape: candidates are K-sized driver state like
    * every center array here. The draw uniform is ONE md5 per row,
    * computed once and SLICED per round (6 fresh nibbles of the same
    * digest per round — independent uniforms from one hash), not a
    * fresh md5 per round. d2 is maintained INCREMENTALLY — each round
    * folds only the distances to the round's NEW candidates into the
    * materialized running min (the standard k-means|| optimization),
    * with per-round localCheckpoint lineage truncation (the rationale
    * is [[graft.Fixpoint]]'s), so every pass is a short scan of
    * (pid, dims, hash, d2) rather than a re-derivation against the
    * whole candidate history. */
  def qScalableInit(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4dSpread(spark, dir)
    // ONE parquet pass: the row's md5 is hashed once into __h and the
    // per-round draw uniforms sliced from THAT column (bit-identical
    // to slicing the inline digest — same deterministic expression —
    // but the projection never re-derives the digest per nibble), and
    // the checkpointed frame carries 3 doubles instead of the 32-char
    // hex string. The first candidate is then read off the CHECKPOINT
    // (the previous shape paid a second full scan+sort of the parquet
    // just for the limit-1 row — profiled at 0.4 s of the query's 3 s).
    var base = pts
      .withColumn("__h", expr("md5(cast(pid AS string))"))
      .select((col("pid") +: dims.map(col)) ++
        (1 to SCAL_ROUNDS).map(r =>
          expr(graft.pipeline.Mix.u24SliceSql("__h", (r - 1) * 6)).as(s"__u$r")): _*)
      .localCheckpoint(eager = true)
    var cands: Seq[(Long, Array[Double])] =
      base.orderBy(col("pid") +: dims.map(col): _*).limit(1)
        .collect().map(r => r.getLong(0) ->
        dims.indices.map(i => r.getDouble(1 + i)).toArray).toSeq
    val d0 = Points.distTo(cands.head._2, dims)
    val uCols = (1 to SCAL_ROUNDS).map(r => col(s"__u$r"))
    // the running min-d2: an expression (d0^2, evaluated inside round
    // 1's two passes) until the first re-checkpoint materializes it —
    // same per-row doubles, one fewer full-width checkpoint column
    var d2: org.apache.spark.sql.Column = d0 * d0
    for (r <- 1 to SCAL_ROUNDS) {
      // phi ROUNDED 6 before it enters the draw threshold: the raw
      // sum is order-dependent, the rounded value is engine-stable
      val phi = r6(base.agg(sum(d2)).head.getDouble(0))
      val u = col(s"__u$r")
      // canonicalize per pid (the testdata duplicates rows per pid):
      // identical rows share one draw decision; a pid with several
      // drawn variants contributes its per-dim min — deterministic
      // and mirrored verbatim in the oracle's GROUP BY
      val drawn = base
        .filter(u < lit(SCAL_L) * d2 / lit(phi))
        .groupBy("pid").agg(min(col(dims.head)).as(dims.head),
          dims.tail.map(d => min(col(d)).as(d)): _*)
        .collect()
        .map(row => row.getLong(0) -> dims.indices.map(i => row.getDouble(1 + i)).toArray)
      val known = cands.map(_._1).toSet
      val fresh = drawn.filterNot(d => known(d._1)).sortBy(_._1)
      cands = cands ++ fresh
      if (r < SCAL_ROUNDS && fresh.nonEmpty) {
        val newMin = (d2 +: fresh.toSeq.map { case (_, c) =>
          val dd = Points.distTo(c, dims); dd * dd
        }).reduce((a, b) => least(a, b))
        base = base.select((col("pid") +: dims.map(col)) ++ uCols :+
          newMin.as("__d2"): _*).localCheckpoint(eager = true)
        d2 = col("__d2")
      }
    }
    // weights: points nearest to each candidate (ties -> lowest
    // candidate index, the assign convention)
    val byIdx = assign(base.select(col("pid") +: dims.map(col): _*),
      cands.map(_._2).toArray, dims)
      .groupBy("k").agg(count(lit(1)).as("weight"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    import spark.implicits._
    cands.zipWithIndex.map { case ((pid, _), i) =>
      (pid, byIdx.getOrElse(i, 0L))
    }.toDF("cand_pid", "weight")
  }

  /** Decile rank-transform: bucketize each dim into 0..9 by its own
    * distribution's decile cutoffs — the quantile (rank) feature
    * transform that makes heavy-tailed dims comparable without the
    * global per-row sort a true percent_rank costs (a window over the
    * fact table is the 100 TB anti-shape). Cutoffs come from the
    * bounded-state quantile engine, ROUNDED 6 on both sides so a
    * sub-ulp interpolation difference cannot flip a bucket edge; the
    * bucketize itself is a pure codegen'd sum of 9 comparisons per
    * dim. */
  def qQuantileTransform(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4d(spark, dir)
    val ps = (1 to 9).map(_ / 10.0)
    val qs = dimQuantiles(pts, ps)
    pts.select(col("pid") +: dims.map { d =>
      ps.map(p => when(col(d) >= lit(r6(qs(d)(p))), 1).otherwise(0))
        .reduce(_ + _).as(s"q_$d")
    }: _*)
  }

  /** Per-iteration Lloyd run with metrics, matching the reference's
    * print_best output (kmeans.java:261-270: iter, best objective,
    * map_t, reduce_t, iteration time). Generic over k/iters/dims/init
    * — the CLI composes it over CSV datasets. One fused pass per
    * iteration: the SSE term is folded into the centroid groupBy so
    * the K-distance projection is evaluated once.
    *
    * map/reduce wall times come from each iteration's QueryRun over
    * completed stages — the assign + partial-aggregate stage WRITES
    * shuffle (the reference's map phase, kmeans.java map_t), the
    * final-merge stage READS it (reduce_t). Tuple: (iter, sse, best,
    * map_ms, reduce_ms, iter_ms). */
  def metricsRun(points: DataFrame, k: Int, iters: Int,
                 ds: Seq[String] = dims,
                 init: DataFrame => Array[Array[Double]] = null)
      : Seq[(Int, Double, Double, Long, Long, Long)] = {
    val spark = points.sparkSession
    // stages are attributed via a job group: anything ELSE running on
    // the shared SparkContext during an iteration (concurrent suites,
    // harness bookkeeping) must not land in this run's map/reduce time
    val jobGroup = s"graft-kmeans-metrics-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(jobGroup,
      "kmeans metricsRun per-iteration stage timing", interruptOnCancel = false)
    val pts = points.cache()
    try {
      var centers =
        if (init == null) Points.firstKCenters(pts, k, ds) else init(pts)
      var best = Double.MaxValue
      val out = scala.collection.mutable.ListBuffer
        .empty[(Int, Double, Double, Long, Long, Long)]
      for (iter <- 1 to iters) {
        val t0 = System.nanoTime()
        val (rows, run) = graft.QueryRun.record(spark) {
          update(assign(pts, centers, ds), ds, sum(col("dist")).as("sse_part")).collect()
        }
        val ours = run.jobs.filter(_.group.contains(jobGroup)).flatMap(_.stageIds).toSet
        val (reduce, map) = run.stages.filter(s => ours(s.id)).partition(_.shuffleRead > 0)
        val sse = rows.map(_.getAs[Double]("sse_part")).sum
        if (sse < best) best = sse
        centers = reseed(centers, rows, ds)
        out += ((iter, sse, best, map.map(_.durationMs max 0L).sum,
          reduce.map(_.durationMs max 0L).sum,
          (System.nanoTime() - t0) / 1000000L))
      }
      out.toSeq
    } finally {
      points.unpersist()
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Wall-times are nondeterministic -> rows-only entry. */
  def qMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    metricsRun(Points.lineitem4dSpread(spark, dir), K, ITERS)
      .toDF("iter", "sse", "best_sse", "map_ms", "reduce_ms", "iter_ms")
  }

  /** Lloyd from SEEDED-RANDOM centers (kmeans.java:240-248
    * create_center) — the reference's init made reproducible. The
    * seeded draw ranks rows by md5("<seed>-<pid>"), which DuckDB
    * computes identically, so the whole trajectory (draw + unrolled
    * Lloyd) is fully oracle-checkable — no rows-only concession. */
  private val RAND_SEED = 42L
  private val RAND_ITERS = 3

  def qRandomInit(spark: SparkSession, dir: String): DataFrame =
    lloydWith(Points.lineitem4dSpread(spark, dir),
      p => Points.randomCenters(p, K, RAND_SEED), RAND_ITERS)

  /** Unrolled random-init Lloyd oracle: c0 by the seeded-md5 ranking,
    * then the same widen/assign/update stages as kmeans_full. */
  private val randomInitSql: String = {
    val oc = s"${Points.randomRankSql(RAND_SEED)}, ${ClusterSql.orderCols}"
    val c0 =
      s"""c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY $oc) - 1 AS INT) AS k,
         |         ${dims.zipWithIndex.map { case (d, i) => s"$d AS c${i + 1}" }.mkString(", ")}
         |  FROM (SELECT * FROM pts ORDER BY $oc LIMIT $K))""".stripMargin
    s"""WITH pts AS ($ptsSql),
       |$c0,
       |${ClusterSql.lloydChainSql(K, RAND_ITERS, "c0", dims)}
       |SELECT * FROM u$RAND_ITERS""".stripMargin
  }

  /** Lloyd's over the min-max normalized point set — the composition
    * the reference's unused read-time stats clearly intend. Same
    * generic operator, normalized dim columns. */
  private val normDims = dims.map(d => s"n_$d")

  def qNormalizedKmeans(spark: SparkSession, dir: String): DataFrame =
    lloyd(normalizeFrom(Points.lineitem4dSpread(spark, dir), spark, dir),
      K, 3, normDims)

  private val normPtsSubquery: String = {
    val stats = dims.map(d => s"min($d) AS min_$d, max($d) AS max_$d").mkString(", ")
    val scaled = dims.map(d => s"($d - min_$d) / (max_$d - min_$d) AS n_$d").mkString(", ")
    s"SELECT pid, $scaled FROM ($ptsSql) p CROSS JOIN (SELECT $stats FROM ($ptsSql)) st"
  }

  /** Best-of-runs tracking (kmeans.java:57-62 num_run loop +
    * :199-200 best_objectvalue): RUNS restarts from different
    * deterministic inits (run r seeds from points ranked
    * [r*K, r*K+K)), each runs RUN_ITERS Lloyd iterations; output one
    * row per run with its final objective and the running best.
    * Deterministic end to end -> fully oracled. */
  private val RUNS = 2
  private val RUN_ITERS = 2

  def qBestOfRuns(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4dSpread(spark, dir).cache()
    try {
      val seedPool = Points.firstKCenters(pts, RUNS * K)
      val results = (0 until RUNS).map { r =>
        val (centers, _) = train(pts, seedPool.slice(r * K, r * K + K), RUN_ITERS)
        val a = assign(pts, centers)
          .agg(count(lit(1)).as("n"), round(avg(col("dist")), 3).as("avg_dist")).head
        (r, a.getLong(0), a.getDouble(1))
      }
      val best = results.scanLeft(Double.MaxValue) { case (b, (_, _, d)) => math.min(b, d) }.tail
      import spark.implicits._
      results.zip(best).map { case ((r, n, d), b) => (r, n, d, b) }
        .toDF("run", "n", "avg_dist", "best_avg_dist")
    } finally { pts.unpersist(); () }
  }

  /** Oracle: one unrolled Lloyd chain per run (init offset r*K), then
    * a union with a running min over run order. */
  private val bestOfRunsSql: String = {
    val runs = (0 until RUNS).map { r =>
      val c0 =
        s"""r${r}c0 AS (
           |  SELECT CAST(row_number() OVER (ORDER BY ${ClusterSql.orderCols}) - 1 - ${r * K} AS INT) AS k,
           |         ${dims.zipWithIndex.map { case (d, i) => s"$d AS c${i + 1}" }.mkString(", ")}
           |  FROM (SELECT * FROM pts ORDER BY ${ClusterSql.orderCols} LIMIT ${(r + 1) * K})
           |  QUALIFY row_number() OVER (ORDER BY ${ClusterSql.orderCols}) > ${r * K})""".stripMargin
      val chain = ClusterSql.lloydChainSql(K, RUN_ITERS, s"r${r}c0", dims,
        p = s"r$r", finalAssign = "fa")
      s"""$c0,
         |$chain,
         |r${r}res AS (SELECT $r AS run, count(*) AS n, round(avg(dist), 3) AS avg_dist FROM r${r}fa)""".stripMargin
    }.mkString(",\n")
    val union = (0 until RUNS).map(r => s"SELECT * FROM r${r}res").mkString(" UNION ALL ")
    s"""WITH pts AS ($ptsSql),
       |$runs,
       |allruns AS ($union)
       |SELECT run, n, avg_dist,
       |  min(avg_dist) OVER (ORDER BY run ROWS UNBOUNDED PRECEDING) AS best_avg_dist
       |FROM allruns""".stripMargin
  }

  // ---- 64-dim embeddings through the SAME generic operator -----------

  private val EMBED_ITERS = 2

  /** Nearest-center assignment over the 64-dim embeddings corpus. */
  def qEmbedAssign(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.embeddings64(spark, dir)
    assign(pts, Points.firstKCenters(pts, K, Points.embedDims), Points.embedDims)
      .select("pid", "k", "dist")
  }

  /** Two Lloyd iterations over the embeddings corpus; final centers.
    * Spread: lloyd caches the 64-dim view and runs init + 2 update
    * jobs over it — every one of them was a single task on the
    * one-row-group embeddings parquet (profiled: all 8 stages 1 task). */
  def qEmbedFull(spark: SparkSession, dir: String): DataFrame =
    lloyd(Points.embeddings64Spread(spark, dir), K, EMBED_ITERS, Points.embedDims)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dataset_stats" -> (Points.stats _),
    "dataset_normalize" -> (qNormalize _),
    "dataset_robust_scale" -> (qRobustScale _),
    "dataset_winsorize" -> (qWinsorize _),
    "dataset_quantile_transform" -> (qQuantileTransform _),
    "kmeans_assign" -> (qAssign _),
    "kmeans_update" -> (qUpdate _),
    "kmeans_sse" -> (qSse _),
    "kmeans_full" -> (qFull _),
    "kmeans_elbow" -> (qElbow _),
    "kmeans_bic" -> (qBic _),
    "kmeans_scalable_init" -> (qScalableInit _),
    "kmeans_silhouette" -> (qSilhouette _),
    "kmeans_davies_bouldin" -> (qDaviesBouldin _),
    "kmeans_calinski_harabasz" -> (qCalinskiHarabasz _),
    "kmeans_embed_assign" -> (qEmbedAssign _),
    "kmeans_embed_full" -> (qEmbedFull _),
    "kmeans_metrics" -> (qMetrics _),
    "kmeans_best_of_runs" -> (qBestOfRuns _),
    "kmeans_normalized" -> (qNormalizedKmeans _),
    "kmeans_random_init" -> (qRandomInit _))

  val oracleSql: Map[String, String] = Map(
    "dataset_normalize" -> normalizeSql,
    "dataset_robust_scale" -> robustScaleSql,
    "dataset_winsorize" -> winsorizeSql,
    "dataset_quantile_transform" -> quantileTransformSql,
    "dataset_stats" ->
      ("SELECT count(*) AS n, " +
        dims.map(d => s"min($d) AS min_$d, max($d) AS max_$d").mkString(", ") +
        s" FROM ($ptsSql)"),
    "kmeans_assign" -> oracleAssign,
    "kmeans_update" -> oracleUpdate,
    "kmeans_sse" -> oracleSse,
    "kmeans_full" -> oracleFull,
    "kmeans_elbow" -> oracleElbow,
    "kmeans_bic" -> oracleBic,
    "kmeans_scalable_init" -> scalableInitSql,
    "kmeans_silhouette" -> silhouetteSql,
    "kmeans_davies_bouldin" -> daviesBouldinSql,
    "kmeans_calinski_harabasz" -> calinskiHarabaszSql,
    "kmeans_embed_assign" ->
      ClusterSql.assignOnlySql(K, Points.embedPtsSql, Points.embedDims),
    "kmeans_embed_full" ->
      ClusterSql.fullLloydSql(K, EMBED_ITERS, Points.embedPtsSql, Points.embedDims),
    "kmeans_best_of_runs" -> bestOfRunsSql,
    "kmeans_normalized" ->
      ClusterSql.fullLloydSql(K, 3, normPtsSubquery, normDims),
    "kmeans_random_init" -> randomInitSql)
}
