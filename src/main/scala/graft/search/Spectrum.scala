package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.MicroGrid
import graft.functions.Exact.{d6, r6}

/** Embedding covariance + spectral diagnostics — the anisotropy
  * report a vector-search deployment reads before trusting cosine
  * geometry (a collapsed spectrum means every query looks like every
  * other; whitening/recentering decisions start from exactly these
  * numbers — the public embedding-quality literature's "dominant
  * direction" diagnostic).
  *
  * Scale shape: the covariance reduces to ONE pass accumulating the
  * d(d+1)/2 upper-triangle product sums per partition in a dense
  * array (a mapPartitions kernel — justified under the §6
  * last-resort rule because this is a pure numeric Gram accumulation:
  * the declarative alternative explodes n x 2080 product rows through
  * generic tuple machinery for the identical arithmetic, and public
  * Spark ML computes its Gram/covariance matrices with the same
  * treeAggregate-style dense accumulation). Partial arrays merge
  * driver-side — O(partitions x 2080) work — and everything after
  * (the 64 x 64 eigen step) is bounded driver math on the rounded
  * matrix, the lloyd literal-frame pattern.
  *
  * Determinism (HOST-invariant since round 13): raw double Gram sums
  * are order-dependent — partition-internal accumulation order varies
  * with split layout and partials merge in task-completion order — and
  * round-12's driver run proved a covariance entry can land on a
  * 0.5e-6 midpoint and flip with the layout. The fix is the MicroGrid
  * discipline end-to-end: each embedding component quantizes to
  * integer micro-units at read (an exact scale-0 decision both engines
  * share), sums and products accumulate as exact integers (order-free
  * by construction), and each covariance entry's round-6 is an exact
  * integer HALF_UP division — no order-dependent double is ever
  * rounded. Long per-partition partials are overflow-checked
  * (Math.addExact) and merge into BigInt, so no data scale can
  * silently wrap. */
object Spectrum extends graft.Registry {

  private val D = 64
  private val P = D * (D + 1) / 2
  private val ITERS = 15

  /** (per-dim micro sums, upper-triangle micro-product sums, row
    * count) — exact integers, staged once per (JVM, dir). */
  private def stagedSums(spark: SparkSession, dir: String)
      : (Array[BigInt], Array[BigInt], Long) =
    graft.Memo.value(dir, "cov-sums") {
      val parts = t(spark, dir, "embeddings").select("embedding").rdd.mapPartitions { it =>
        val sums = new Array[Long](D)
        val prods = new Array[Long](P)
        var n = 0L
        val q = new Array[Long](D)
        it.foreach { row =>
          val a = row.getSeq[Float](0)
          require(a.length == D, s"expected $D dims, got ${a.length}")
          n += 1
          var i = 0
          while (i < D) { q(i) = MicroGrid.quantize(a(i).toDouble); i += 1 }
          i = 0
          var p = 0
          while (i < D) {
            sums(i) = Math.addExact(sums(i), q(i))
            var j = i
            while (j < D) {
              prods(p) = Math.addExact(prods(p), Math.multiplyExact(q(i), q(j)))
              p += 1; j += 1
            }
            i += 1
          }
        }
        Iterator.single((sums, prods, n))
      }.collect()
      // order-free exact merge (BigInt): any permutation of partials
      // produces the identical integers
      val s = Array.fill(D)(BigInt(0))
      val pr = Array.fill(P)(BigInt(0))
      var n = 0L
      parts.foreach { case (ps, pp, pn) =>
        var i = 0
        while (i < D) { s(i) += ps(i); i += 1 }
        i = 0
        while (i < P) { pr(i) += pp(i); i += 1 }
        n += pn
      }
      (s, pr, n)
    }

  /** The rounded covariance matrix (full, symmetric): each entry is
    * the EXACT HALF_UP round-6 of (n*Pij - Si*Sj) / (n^2 * 1e12) —
    * pure integer arithmetic, bit-identical on any host or layout. */
  private def covMatrix(spark: SparkSession, dir: String): (Array[Array[Double]], Long) = {
    val (sums, prods, n) = stagedSums(spark, dir)
    val bn = BigInt(n)
    val den = bn * bn * 1000000L
    val c = Array.ofDim[Double](D, D)
    var p = 0
    var i = 0
    while (i < D) {
      var j = i
      while (j < D) {
        val cov = MicroGrid.roundDiv6(prods(p) * bn - sums(i) * sums(j), den)
        c(i)(j) = cov
        c(j)(i) = cov
        p += 1; j += 1
      }
      i += 1
    }
    (c, n)
  }

  /** Upper-triangle covariance entries (i <= j), rounded 6. */
  def qCovariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (c, _) = covMatrix(spark, dir)
    (for (i <- 0 until D; j <- i until D) yield (i, j, c(i)(j)))
      .toDF("i", "j", "cov")
  }

  /** One-row spectral summary: trace, dominant eigenvalue by ITERS
    * power iterations from the exactly-representable uniform start
    * 1/8, and the top direction's explained variance share. */
  /** Every input of the power-iteration sums is a ROUND-6 grid value,
    * so each sum's TRUE value lies on the 1e-12 decimal grid — which
    * contains the 0.5e-6 rounding midpoints. A raw double sum sits
    * within sub-ulp of that exact value, and when the exact value IS
    * a midpoint, summation-order noise decides the rounded result: a
    * structural cross-engine (and run-to-run) coin flip, observed live
    * on embed_spectrum's Rayleigh numerator at sf0.01. The fix is the
    * OLS DECIMAL-exact-moments pattern: recover each factor's exact
    * decimal (setScale 6 of a value that IS a 6-decimal), sum the
    * exact scale-12 products in BigDecimal (order-free), and only then
    * round half-up — deterministically, because the decision happens
    * on the exact decimal, not a nearby double. The oracle mirrors
    * with DECIMAL(18,6) casts and DECIMAL sums. Divisions and sqrt
    * then act on bit-identical doubles in both engines (a binary
    * double can never equal a scale-7 decimal midpoint, so identical
    * doubles always round identically). */
  private def gridDot(a: Array[Double], b: Array[Double]): BigDecimal =
    a.indices.map(i => d6(a(i)) * d6(b(i))).sum

  /** ITERS power iterations over a round-6 grid matrix + final
    * Rayleigh quotient, all grid sums decimal-exact. */
  private[search] def powerIterate(c: Array[Array[Double]]): Double = {
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(c.length)(i => r6(gridDot(c(i), v)))
    var v = Array.fill(c.length)(0.125)
    for (_ <- 1 to ITERS) {
      val u = matvec(v)
      val nrm = math.sqrt(gridDot(u, u).toDouble)
      v = u.map(x => r6(x / nrm))
    }
    val u = matvec(v)
    r6(gridDot(u, v).toDouble / gridDot(v, v).toDouble)
  }

  /** The converged (ITERS-iteration) unit eigenvector on the round-6
    * grid — shared with the whitening stage (Whiten.scala), which
    * removes this direction. Same trajectory as [[powerIterate]]. */
  private[search] def powerVector(c: Array[Array[Double]]): Array[Double] = {
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(c.length)(i => r6(gridDot(c(i), v)))
    var v = Array.fill(c.length)(0.125)
    for (_ <- 1 to ITERS) {
      val u = matvec(v)
      val nrm = math.sqrt(gridDot(u, u).toDouble)
      v = u.map(x => r6(x / nrm))
    }
    v
  }

  private[search] def covarianceOf(spark: SparkSession, dir: String)
      : (Array[Array[Double]], Long) = covMatrix(spark, dir)

  private[search] def microSums(spark: SparkSession, dir: String)
      : (Array[BigInt], Array[BigInt], Long) = stagedSums(spark, dir)

  def qSpectrum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (c, n) = covMatrix(spark, dir)
    val lam = powerIterate(c)
    val trace = (0 until D).map(i => d6(c(i)(i))).sum.toDouble
    Seq((n, D, trace, lam, r6(lam / trace)))
      .toDF("n_vecs", "dim", "trace", "top_eig", "explained_share")
  }

  /** Correlation-spectrum summary — the post-standardization
    * anisotropy check: divide the covariance by the per-dimension
    * scales (corr_ij = cov_ij / sqrt(var_i var_j)) and re-run the
    * power iteration. If the RAW dominant share was driven by a few
    * high-variance dimensions, diagonal standardization (the cheap
    * half of whitening) collapses it; a share that SURVIVES here is
    * genuine correlated structure only a full rotation can remove —
    * the number that decides between per-dim scaling and PCA
    * whitening. The correlation trace is exactly D (each rounded
    * diagonal divides by itself), so the share is top_eig / D. All
    * driver math on the rounded matrix; same staged Gram sums. */
  def qCorrSpectrum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (c, n) = covMatrix(spark, dir)
    (0 until D).foreach(i => require(c(i)(i) > 0.0, s"zero variance in dim $i"))
    val cr = Array.tabulate(D, D)((i, j) =>
      r6(c(i)(j) / math.sqrt(c(i)(i) * c(j)(j))))
    val lam = powerIterate(cr)
    // lam/64 is a grid value scaled by a power of two — its exact
    // decimal terminates at scale 12, so the share rounds on the
    // exact decimal too (lam/64 lands on a midpoint whenever the
    // grid integer is 32 mod 64 — a 1/64 structural tie as a double)
    val share = r6(d6(lam) * BigDecimal("0.015625"))
    Seq((n, D, lam, share))
      .toDF("n_vecs", "dim", "top_eig", "explained_share")
  }

  /** Per-dimension standardization APPLIED — the action the spectrum
    * diagnostics decide on (corr-spectrum share low => per-dim scaling
    * suffices; this is that scaling): z = (x - mean_d) / sd_d with the
    * mean an exact integer round-6 and sd = sqrt of the exact round-6
    * variance, so the transform itself is bit-identical cross-engine.
    * ONE verification pass then recomputes each scaled dimension's
    * mean and variance from the transformed data (var_after == 1
    * within round-6 is the proof the applied transform matches the
    * diagnosed moments). The verification sums are MicroGrid-exact
    * too: each z quantizes to integer micro-units in-engine (exact
    * scale-0 decision on identical doubles), the 128 aggregates sum
    * those integers in DECIMAL(38,0) (order-free), and the reported
    * moments round via exact integer division — so the verification
    * pass is as layout-invariant as the covariance it checks.
    * Scale shape: rides the staged Gram sums (no new first pass); the
    * verification is one shuffle-free 128-aggregate pass. */
  def qStandardize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (sums, _, n) = stagedSums(spark, dir)
    val (c, _) = covMatrix(spark, dir)
    val bn = BigInt(n)
    val mean = Array.tabulate(D)(i => MicroGrid.roundDiv6(sums(i), bn))
    val sd = Array.tabulate(D)(i => math.sqrt(c(i)(i)))
    (0 until D).foreach(i => require(sd(i) > 0.0, s"zero variance in dim $i"))
    val e = graft.Tables.t(spark, dir, "embeddings")
    // quantized z in micro-units; Spark round(DOUBLE) makes the same
    // exact scale-0 decision as DuckDB's round (see MicroGrid)
    val zqExprs = (0 until D).map(d =>
      expr(s"""CAST(round(((CAST(element_at(embedding, ${d + 1}) AS DOUBLE)
              | - ${mean(d)}) / ${sd(d)}) * 1000000.0) AS BIGINT)""".stripMargin))
    val aggs = (0 until D).flatMap(d => Seq(
      sum(zqExprs(d).cast("decimal(38,0)")).as(s"s$d"),
      sum((zqExprs(d) * zqExprs(d)).cast("decimal(38,0)")).as(s"ss$d")))
    val r = e.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = (0 until D).map { d =>
      val sz = BigInt(r.getDecimal(2 * d).toBigInteger)
      val szz = BigInt(r.getDecimal(2 * d + 1).toBigInteger)
      (d, mean(d), c(d)(d),
        MicroGrid.roundDiv6(sz, bn),
        MicroGrid.roundDiv6(szz * bn - sz * sz, bn * bn * 1000000L))
    }
    rows.toDF("dim", "mean", "var_before", "mean_after", "var_after")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_covariance" -> (qCovariance _),
    "embed_spectrum" -> (qSpectrum _),
    "embed_corr_spectrum" -> (qCorrSpectrum _),
    "embed_standardize" -> (qStandardize _))

  /** Shared covariance CTE — the MicroGrid integer mirror: quantized
    * HUGEINT components, exact integer product/mean sums via a
    * dimension range join, and each entry's round-6 as the exact
    * integer HALF_UP division (n*Pij - Si*Sj over n^2*1e6 micro). */
  private[search] val covSql = {
    val num = "CAST(nn.n AS HUGEINT) * pxy - mi.sx * mj.sx"
    val den = "CAST(nn.n AS HUGEINT) * nn.n * 1000000"
    s"""e AS (SELECT embedding,
       |    list_transform(embedding,
       |      x -> ${MicroGrid.sqlQuantize("CAST(x AS DOUBLE)")}) AS qv
       |  FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM e),
       |prods AS (SELECT ii.i AS i, jj.j AS j,
       |    sum(qv[ii.i + 1] * qv[jj.j + 1]) AS pxy
       |  FROM e, range(0, $D) ii(i), range(0, $D) jj(j)
       |  WHERE jj.j >= ii.i GROUP BY ii.i, jj.j),
       |means AS (SELECT ii.i AS i, sum(qv[ii.i + 1]) AS sx
       |  FROM e, range(0, $D) ii(i) GROUP BY ii.i),
       |cov AS MATERIALIZED (SELECT prods.i, prods.j,
       |    ${MicroGrid.sqlRoundDiv6(num, den)} AS cov
       |  FROM prods JOIN means mi ON mi.i = prods.i
       |             JOIN means mj ON mj.i = prods.j
       |             CROSS JOIN nn)""".stripMargin
  }

  /** The power-iteration CTE chain over whatever `m` matrix the
    * caller's WITH-prefix defined; shared by both spectrum oracles.
    * Grid-input sums run DECIMAL-exact (see [[powerIterate]]'s doc):
    * CAST(x AS DECIMAL(18,6)) recovers the exact decimal of a round-6
    * double, products are exact scale-12 decimals, DECIMAL sums are
    * order-free, and round(DECIMAL, 6) ties away from zero exactly
    * like BigDecimal HALF_UP — so both engines make every rounding
    * decision on the same exact number. */
  private def decDot(a: String, b: String): String =
    s"sum(CAST($a AS DECIMAL(18,6)) * CAST($b AS DECIMAL(18,6)))"
  /** `p` prefixes every generated CTE name and `m` names the input
    * matrix CTE, so one query can run the chain twice (embed_whiten
    * iterates the raw covariance AND the deflated matrix). */
  private[search] def iterChainSql(p: String = "", m: String = "m"): String = {
    val iter = (k: Int) =>
      s"""${p}u$k AS MATERIALIZED (SELECT $m.i,
         |    CAST(round(${decDot(s"$m.cov", "v.v")}, 6) AS DOUBLE) AS u
         |  FROM $m JOIN ${p}v${k - 1} v ON v.i = $m.j GROUP BY $m.i),
         |${p}v$k AS MATERIALIZED (SELECT i,
         |    round(u / sqrt(CAST((SELECT ${decDot("u", "u")} FROM ${p}u$k) AS DOUBLE)), 6) AS v
         |  FROM ${p}u$k)""".stripMargin
    val iters = (1 to ITERS).map(iter).mkString(",\n")
    s"""${p}v0 AS (SELECT ii.i AS i, CAST(0.125 AS DOUBLE) AS v FROM range(0, $D) ii(i)),
       |$iters,
       |${p}fu AS (SELECT $m.i, CAST(round(${decDot(s"$m.cov", "v.v")}, 6) AS DOUBLE) AS u
       |  FROM $m JOIN ${p}v$ITERS v ON v.i = $m.j GROUP BY $m.i),
       |${p}lam AS (SELECT round(CAST(${decDot(s"${p}fu.u", "v.v")} AS DOUBLE)
       |    / CAST(${decDot("v.v", "v.v")} AS DOUBLE), 6) AS top_eig
       |  FROM ${p}fu JOIN ${p}v$ITERS v USING (i))""".stripMargin
  }
  private[search] def spectrumIters: Int = ITERS
  private[search] def dims: Int = D

  val oracleSql: Map[String, String] = Map(
    "embed_standardize" -> {
      val nH = "CAST(nn.n AS HUGEINT)"
      s"""WITH $covSql,
         |mn AS MATERIALIZED (SELECT means.i,
         |    ${MicroGrid.sqlRoundDiv6("means.sx", nH)} AS mean,
         |    sqrt((SELECT cov FROM cov c WHERE c.i = means.i AND c.j = means.i)) AS sd
         |  FROM means CROSS JOIN nn),
         |sdim AS (SELECT mn.i AS d,
         |    ${MicroGrid.sqlQuantize(
               "(CAST(embedding[mn.i + 1] AS DOUBLE) - mn.mean) / mn.sd")} AS zq
         |  FROM e CROSS JOIN mn),
         |ver AS (SELECT d, sum(zq) AS sz, sum(zq * zq) AS szz
         |  FROM sdim GROUP BY d)
         |SELECT CAST(ver.d AS INT) AS dim, mn.mean,
         |  (SELECT cov FROM cov c WHERE c.i = ver.d AND c.j = ver.d) AS var_before,
         |  ${MicroGrid.sqlRoundDiv6("ver.sz", "CAST(nn.n AS HUGEINT)")} AS mean_after,
         |  ${MicroGrid.sqlRoundDiv6(
             "ver.szz * CAST(nn.n AS HUGEINT) - ver.sz * ver.sz",
             "CAST(nn.n AS HUGEINT) * nn.n * 1000000")} AS var_after
         |FROM ver JOIN mn ON mn.i = ver.d CROSS JOIN nn""".stripMargin
    },
    "embed_corr_spectrum" ->
      s"""WITH $covSql,
         |corr AS MATERIALIZED (SELECT a.i, a.j,
         |    round(a.cov / sqrt(di.cov * dj.cov), 6) AS cov
         |  FROM cov a JOIN cov di ON di.i = a.i AND di.j = a.i
         |             JOIN cov dj ON dj.i = a.j AND dj.j = a.j),
         |m AS MATERIALIZED (SELECT i, j, cov FROM corr
         |      UNION ALL SELECT j, i, cov FROM corr WHERE i != j),
         |${iterChainSql()}
         |SELECT n AS n_vecs, $D AS dim, top_eig,
         |  CAST(round(CAST(top_eig AS DECIMAL(18,6)) * 0.015625, 6) AS DOUBLE) AS explained_share
         |FROM nn CROSS JOIN lam""".stripMargin,
    "embed_covariance" ->
      s"""WITH $covSql
         |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, cov FROM cov""".stripMargin,
    "embed_spectrum" ->
      s"""WITH $covSql,
         |m AS MATERIALIZED (SELECT i, j, cov FROM cov
         |      UNION ALL SELECT j, i, cov FROM cov WHERE i != j),
         |${iterChainSql()},
         |tr AS (SELECT CAST(sum(CAST(cov AS DECIMAL(18,6))) AS DOUBLE) AS trace
         |  FROM cov WHERE i = j)
         |SELECT n AS n_vecs, $D AS dim, trace, top_eig,
         |  round(top_eig / trace, 6) AS explained_share
         |FROM nn CROSS JOIN tr CROSS JOIN lam""".stripMargin)
}
