package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Deterministic HyperLogLog distinct-count sketch, oracled EXACTLY.
  *
  * The standing `agg_approx_distinct` row exercises Spark's built-in
  * HLL++ (rows-only: its hash is engine-private). This operator builds
  * the sketch itself from first principles (Flajolet et al. 2007) with
  * a fully-specified integer hash, so the DuckDB oracle reproduces
  * every register and the final estimate bit-for-bit — the sketch
  * accuracy analog of `dedup_minhash_estimate`: report the estimate
  * NEXT TO the exact distinct count and the relative error.
  *
  * Item stream: distinct (user_id, calendar day) pairs per event_type
  * — "distinct user-days", the de-facto engagement denominator. The
  * day half of the key is the EPOCH-DAY index from a fixed date
  * (datediff from 1990-01-01), not day-of-month — day(ts) alone would
  * silently conflate the same day-of-month across different months
  * the moment the corpus spans more than one (round-14 advice).
  * user_id * 100000 leaves ~273 years of headroom below the next
  * user, and the whole key stays well inside BIGINT.
  *
  * Determinism: the 32-bit avalanche hash is multiply/xor/shift
  * arithmetic on BIGINT (multiplier 73244475 < 2^31, so no product
  * leaves the 63-bit range); bucket = low 8 bits, substream = high 24.
  * The register value is the HLL rank statistic taken over the
  * substream's REVERSED bit order — rho = trailing zeros + 1, isolated
  * with w & -w and counted exactly via bit_count(L-1)+1 (identical
  * geometric law, and exact integer ops in both engines, where a
  * leading-zero count would need floating log2). The harmonic sum is
  * held EXACT by scaling: sum(2^(25-rho)) in BIGINT (rho <= 25), so
  * the only floating steps are one division, the small-range ln()
  * branch, and the final round(6) — identical IEEE in both engines.
  *
  * Scale shape: one scan into a (type x 256)-bounded partial
  * aggregate (map-side combine on max) plus one exact distinct per
  * type for the error report; nothing grows with the corpus. At
  * 100 TB the exact-count companion column is the expensive side —
  * the sketch itself stays 256 registers per group. */
object Hll extends graft.Registry {

  private val M = 256 // registers (p = 8)
  /** alpha_m * m^2 * 2^25 — the scaled-harmonic numerator, one Scala
    * double so the oracle interpolates the bit-identical literal. */
  private val ALPHA_M2P: Double =
    0.7213 / (1 + 1.079 / M) * M.toDouble * M.toDouble * 33554432.0
  /** Small-range correction threshold: 2.5 * m. */
  private val SMALL = 2.5 * M

  /** Shared estimate expression (Spark and DuckDB dialects agree on
    * every function used); operates on columns sum_scaled (BIGINT,
    * = 2^25 * sum(2^-rho)) and n_zero_buckets. */
  private def estSql: String =
    s"""CASE WHEN CAST($ALPHA_M2P AS DOUBLE) / sum_scaled <= $SMALL
       |          AND n_zero_buckets > 0
       |     THEN $M.0 * ln($M.0 / n_zero_buckets)
       |     ELSE CAST($ALPHA_M2P AS DOUBLE) / sum_scaled END""".stripMargin

  def qHllSketch(spark: SparkSession, dir: String): DataFrame =
    hllOf(t(spark, dir, "events")
      .select(col("event_type"), expr("user_id * 100000 + datediff(CAST(ts AS DATE), DATE '1990-01-01')").as("k")))

  /** [[qHllSketch]] over any (event_type, k: BIGINT >= 0) frame.
    * `private[graft]`: the streaming twin's spec asserts estimate
    * equality against this exact operator. */
  private[graft] def hllOf(base: DataFrame): DataFrame = {
    val hashed = base
      .withColumn("h0", expr("k % 4294967296"))
      .withColumn("h1", expr("((h0 ^ shiftright(h0, 16)) * 73244475) % 4294967296"))
      .withColumn("h2", expr("((h1 ^ shiftright(h1, 16)) * 73244475) % 4294967296"))
      .withColumn("h", expr("h2 ^ shiftright(h2, 16)"))
      .withColumn("bucket", expr(s"h % $M"))
      .withColumn("w", expr(s"h DIV $M"))
      .withColumn("rho", expr(
        "CASE WHEN w = 0 THEN 25 ELSE bit_count((w & -w) - 1) + 1 END"))
    val regs = hashed.groupBy("event_type", "bucket").agg(max("rho").as("r"))
    val agg = regs.groupBy("event_type")
      .agg(count(lit(1)).as("nb"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 25 - r)")).as("sp"))
      .withColumn("n_zero_buckets", lit(M.toLong) - col("nb"))
      .withColumn("sum_scaled",
        col("n_zero_buckets") * lit(33554432L) + col("sp"))
    val exact = base.groupBy("event_type")
      .agg(countDistinct("k").as("n_exact"))
    agg.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"),
        col("n_zero_buckets"), col("sum_scaled"),
        expr(s"round($estSql, 6)").as("estimate"),
        expr(s"round(($estSql - n_exact) * 100.0 / n_exact, 6)")
          .as("rel_err_pct"))
  }

  // ---- sketch-merge identity proof ------------------------------------

  /** HLL mergeability report — the property that makes the sketch THE
    * distributed cardinality structure at 100 TB: registers built on
    * disjoint partitions merge by per-bucket max into EXACTLY the
    * registers of a whole-corpus build (max is associative/commutative
    * — the same reason the register aggregate is map-side combinable).
    * The operator builds the user-parity half sketches and the whole
    * sketch through two DIFFERENT aggregation paths and reports both
    * estimates plus an integer identity flag the oracle must agree is
    * 1 — the `join_incremental` self-verification pattern applied to
    * sketch state. */
  def qHllMerge(spark: SparkSession, dir: String): DataFrame =
    hllMergeOf(t(spark, dir, "events")
      .select(col("event_type"), col("user_id"),
        expr("user_id * 100000 + datediff(CAST(ts AS DATE), DATE '1990-01-01')").as("k")))

  /** [[qHllMerge]] over any (event_type, user_id, k) frame. */
  private[relational] def hllMergeOf(base: DataFrame): DataFrame = {
    val rho = base
      .withColumn("half", expr("CAST(user_id % 2 AS INT)"))
      .withColumn("h0", expr("k % 4294967296"))
      .withColumn("h1", expr("((h0 ^ shiftright(h0, 16)) * 73244475) % 4294967296"))
      .withColumn("h2", expr("((h1 ^ shiftright(h1, 16)) * 73244475) % 4294967296"))
      .withColumn("h", expr("h2 ^ shiftright(h2, 16)"))
      .withColumn("bucket", expr(s"h % $M"))
      .withColumn("rho", expr(
        s"CASE WHEN h DIV $M = 0 THEN 25 ELSE bit_count(((h DIV $M) & -(h DIV $M)) - 1) + 1 END"))
      .select("event_type", "half", "bucket", "rho")
    def scaled(regs: DataFrame): DataFrame =
      regs.groupBy("event_type")
        .agg(count(lit(1)).as("nb"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 25 - r)")).as("sp"))
        .withColumn("sum_scaled",
          (lit(M.toLong) - col("nb")) * lit(33554432L) + col("sp"))
        .withColumn("n_zero_buckets", lit(M.toLong) - col("nb"))
    val halfRegs = rho.groupBy("event_type", "half", "bucket").agg(max("rho").as("r"))
    val merged = scaled(
      halfRegs.groupBy("event_type", "bucket").agg(max("r").as("r")))
      .select(col("event_type"), col("sum_scaled").as("ss_merged"),
        col("n_zero_buckets").as("z_merged"))
    val whole = scaled(
      rho.groupBy("event_type", "bucket").agg(max("rho").as("r")))
      .select(col("event_type"), col("sum_scaled").as("ss_whole"),
        col("n_zero_buckets").as("z_whole"))
    def estOf(ss: String, z: String): String =
      s"""CASE WHEN CAST($ALPHA_M2P AS DOUBLE) / $ss <= $SMALL AND $z > 0
         |     THEN $M.0 * ln($M.0 / $z)
         |     ELSE CAST($ALPHA_M2P AS DOUBLE) / $ss END""".stripMargin
    merged.join(whole, "event_type")
      .select(col("event_type"),
        col("ss_merged"), col("ss_whole"),
        expr(s"round(${estOf("ss_merged", "z_merged")}, 6)").as("est_merged"),
        expr(s"round(${estOf("ss_whole", "z_whole")}, 6)").as("est_whole"),
        expr("""CAST(CASE WHEN ss_merged = ss_whole AND z_merged = z_whole
               |     THEN 1 ELSE 0 END AS BIGINT)""".stripMargin)
          .as("merge_identity"))
  }

  // ---- KMV (k-minimum-values) companion sketch ------------------------

  private val KMV_K = 64

  /** K-minimum-values distinct estimator (Bar-Yossef et al. 2002) over
    * the SAME item stream and avalanche hash as the HLL sketch — the
    * second classic cardinality sketch, kept beside the first so their
    * error profiles can be compared on identical data: if the k-th
    * smallest of the distinct 32-bit hashes is h_k, the stream behaves
    * like ~ (k-1) * 2^32 / h_k distinct uniform draws. Exact fallback
    * when a group has fewer than k distinct hashes.
    *
    * Scale shape: one distinct on (type, hash) — the same cost class
    * as the exact count it is reported against — then a bounded k-row
    * heap per group (TopKPerKey, map-side combinable): the k-th
    * smallest never sorts the corpus. */
  def qKmvSketch(spark: SparkSession, dir: String): DataFrame =
    kmvOf(t(spark, dir, "events")
      .select(col("event_type"), expr("user_id * 100000 + datediff(CAST(ts AS DATE), DATE '1990-01-01')").as("k")))

  /** [[qKmvSketch]] over any (event_type, k: BIGINT >= 0) frame. */
  private[relational] def kmvOf(base: DataFrame): DataFrame = {
    val hashes = base
      .withColumn("h0", expr("k % 4294967296"))
      .withColumn("h1", expr("((h0 ^ shiftright(h0, 16)) * 73244475) % 4294967296"))
      .withColumn("h2", expr("((h1 ^ shiftright(h1, 16)) * 73244475) % 4294967296"))
      .select(col("event_type"), expr("h2 ^ shiftright(h2, 16)").as("h"))
      .distinct()
    // smallest k hashes per group: h < 2^32 < 2^53, so the double
    // negation is exact and TopKPerKey's (value DESC, tie ASC) order
    // is exactly ascending-h
    val kept = graft.plans.TopKPerKey(
        hashes.withColumn("negh", -col("h").cast("double")),
        Seq("event_type"), "negh", "h", KMV_K)
    val agg = kept.groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"), max("h").as("kth_hash"))
    val exact = base.groupBy("event_type").agg(countDistinct("k").as("n_exact"))
    val est = s"""CASE WHEN n_kept < $KMV_K THEN CAST(n_kept AS DOUBLE)
                 |     ELSE ${KMV_K - 1}.0 * 4294967296.0 / kth_hash END""".stripMargin
    agg.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"), col("n_kept"), col("kth_hash"),
        expr(s"round($est, 6)").as("estimate"),
        expr(s"round(($est - n_exact) * 100.0 / n_exact, 6)").as("rel_err_pct"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_hll_sketch" -> (qHllSketch _),
    "agg_hll_merge" -> (qHllMerge _),
    "agg_kmv_sketch" -> (qKmvSketch _))

  val oracleSql: Map[String, String] = Map(
    "agg_hll_sketch" -> {
      // same estimate expression, DuckDB spellings: xor() for ^
      val est = estSql
      s"""WITH base AS (
         |  SELECT event_type, user_id * 100000 + date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS k
         |  FROM events),
         |h0s AS (SELECT event_type, k, k % 4294967296 AS h0 FROM base),
         |h1s AS (SELECT event_type, k,
         |  (xor(h0, h0 >> 16) * 73244475) % 4294967296 AS h1 FROM h0s),
         |h2s AS (SELECT event_type, k,
         |  (xor(h1, h1 >> 16) * 73244475) % 4294967296 AS h2 FROM h1s),
         |hs AS (SELECT event_type, k, xor(h2, h2 >> 16) AS h FROM h2s),
         |hashed AS (
         |  SELECT event_type, k, h % $M AS bucket,
         |    CASE WHEN h // $M = 0 THEN 25
         |         ELSE bit_count(((h // $M) & -(h // $M)) - 1) + 1 END AS rho
         |  FROM hs),
         |regs AS (SELECT event_type, bucket, max(rho) AS r
         |  FROM hashed GROUP BY 1, 2),
         |agg AS (
         |  SELECT event_type, $M - count(*) AS n_zero_buckets,
         |    ($M - count(*)) * 33554432 +
         |      sum(CAST(1 AS BIGINT) << (25 - r)) AS sum_scaled
         |  FROM regs GROUP BY 1),
         |ex AS (SELECT event_type, count(DISTINCT k) AS n_exact
         |  FROM base GROUP BY 1)
         |SELECT agg.event_type, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_zero_buckets AS BIGINT) AS n_zero_buckets,
         |  CAST(sum_scaled AS BIGINT) AS sum_scaled,
         |  round($est, 6) AS estimate,
         |  round(($est - n_exact) * 100.0 / n_exact, 6) AS rel_err_pct
         |FROM agg JOIN ex ON agg.event_type = ex.event_type""".stripMargin
    },
    "agg_hll_merge" -> {
      def estOf(ss: String, z: String): String =
        s"""CASE WHEN CAST($ALPHA_M2P AS DOUBLE) / $ss <= $SMALL AND $z > 0
           |     THEN $M.0 * ln($M.0 / $z)
           |     ELSE CAST($ALPHA_M2P AS DOUBLE) / $ss END""".stripMargin
      s"""WITH base AS (
         |  SELECT event_type, CAST(user_id % 2 AS INT) AS half,
         |    user_id * 100000 + date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS k
         |  FROM events),
         |h0s AS (SELECT event_type, half, k, k % 4294967296 AS h0 FROM base),
         |h1s AS (SELECT event_type, half, k,
         |  (xor(h0, h0 >> 16) * 73244475) % 4294967296 AS h1 FROM h0s),
         |h2s AS (SELECT event_type, half, k,
         |  (xor(h1, h1 >> 16) * 73244475) % 4294967296 AS h2 FROM h1s),
         |hs AS (SELECT event_type, half, xor(h2, h2 >> 16) AS h FROM h2s),
         |rho AS (
         |  SELECT event_type, half, h % $M AS bucket,
         |    CASE WHEN h // $M = 0 THEN 25
         |         ELSE bit_count(((h // $M) & -(h // $M)) - 1) + 1 END AS rho
         |  FROM hs),
         |hr AS (SELECT event_type, half, bucket, max(rho) AS r
         |  FROM rho GROUP BY 1, 2, 3),
         |mregs AS (SELECT event_type, bucket, max(r) AS r FROM hr GROUP BY 1, 2),
         |wregs AS (SELECT event_type, bucket, max(rho) AS r FROM rho GROUP BY 1, 2),
         |m AS (SELECT event_type,
         |    ($M - count(*)) * 33554432 + sum(CAST(1 AS BIGINT) << (25 - r))
         |      AS ss_merged,
         |    $M - count(*) AS z_merged
         |  FROM mregs GROUP BY 1),
         |w AS (SELECT event_type,
         |    ($M - count(*)) * 33554432 + sum(CAST(1 AS BIGINT) << (25 - r))
         |      AS ss_whole,
         |    $M - count(*) AS z_whole
         |  FROM wregs GROUP BY 1)
         |SELECT m.event_type,
         |  CAST(ss_merged AS BIGINT) AS ss_merged,
         |  CAST(ss_whole AS BIGINT) AS ss_whole,
         |  round(${estOf("ss_merged", "z_merged")}, 6) AS est_merged,
         |  round(${estOf("ss_whole", "z_whole")}, 6) AS est_whole,
         |  CAST(CASE WHEN ss_merged = ss_whole AND z_merged = z_whole
         |       THEN 1 ELSE 0 END AS BIGINT) AS merge_identity
         |FROM m JOIN w ON m.event_type = w.event_type""".stripMargin
    },
    "agg_kmv_sketch" -> {
      val est = s"""CASE WHEN n_kept < $KMV_K THEN CAST(n_kept AS DOUBLE)
                   |     ELSE ${KMV_K - 1}.0 * 4294967296.0 / kth_hash END""".stripMargin
      s"""WITH base AS (
         |  SELECT event_type, user_id * 100000 + date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS k
         |  FROM events),
         |h0s AS (SELECT event_type, k, k % 4294967296 AS h0 FROM base),
         |h1s AS (SELECT event_type, k,
         |  (xor(h0, h0 >> 16) * 73244475) % 4294967296 AS h1 FROM h0s),
         |h2s AS (SELECT event_type, k,
         |  (xor(h1, h1 >> 16) * 73244475) % 4294967296 AS h2 FROM h1s),
         |hs AS (SELECT DISTINCT event_type, xor(h2, h2 >> 16) AS h FROM h2s),
         |rk AS (SELECT event_type, h, row_number() OVER (
         |    PARTITION BY event_type ORDER BY h ASC) AS rn FROM hs),
         |agg AS (SELECT event_type, count(*) AS n_kept, max(h) AS kth_hash
         |  FROM rk WHERE rn <= $KMV_K GROUP BY 1),
         |ex AS (SELECT event_type, count(DISTINCT k) AS n_exact
         |  FROM base GROUP BY 1)
         |SELECT agg.event_type, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_kept AS BIGINT) AS n_kept, CAST(kth_hash AS BIGINT) AS kth_hash,
         |  round($est, 6) AS estimate,
         |  round(($est - n_exact) * 100.0 / n_exact, 6) AS rel_err_pct
         |FROM agg JOIN ex ON agg.event_type = ex.event_type""".stripMargin
    })
}
