package graft.clustering

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Particle-swarm clustering, re-expressing pso.java Spark-first.
  *
  * A particle is K candidate centers — P*K*D doubles, legitimately
  * driver-side state (the reference agrees: pso.java holds particles
  * on the driver). What must NOT be driver-side is the evaluation
  * over the data: the reference broadcasts the whole dataset and maps
  * over particles (pso.java:110-193); here ONE distributed projection
  * computes every particle's min-dist column and a single aggregate
  * returns all P objectives — one job per generation, data cached.
  *
  * The reference's transit formula drops the inertia term it just
  * computed (pso.java:138-141 overwrites v after scaling by w); we
  * implement the standard w*v + c1*r1*(pbest-x) + c2*r2*(gbest-x)
  * with the same velocity clamp.
  */
object PSO extends graft.Registry {
  import Points.{dims, distTo}

  val K = 4

  /** All P particle objectives (avg min-dist) in one distributed agg. */
  def objectives(pts: DataFrame, particles: Seq[Array[Array[Double]]],
                 ds: Seq[String] = dims): (Long, Array[Double]) = {
    val dcols = particles.zipWithIndex.map { case (cs, p) =>
      array_min(array(cs.map(c => distTo(c, ds)): _*)).as(s"d$p")
    }
    val row = pts.select(dcols: _*)
      .agg(count(lit(1)).as("n"),
        particles.indices.map(p => avg(col(s"d$p")).as(s"o$p")): _*)
      .head
    (row.getLong(0), particles.indices.map(p => row.getDouble(1 + p)).toArray)
  }

  /** First P*K points by (pid, dims), grouped into P particles. */
  def initParticles(pts: DataFrame, p: Int, k: Int = K,
                    ds: Seq[String] = dims): Seq[Array[Array[Double]]] =
    Points.firstKCenters(pts, p * k, ds).grouped(k).toSeq

  // ---- driver-contract queries ----------------------------------------

  /** Deterministic particle evaluation (pso.java:151-193
    * evaluate_determin): P=4 particles from the first 16 points;
    * output (p, n, obj round 3). */
  def qEvaluate(spark: SparkSession, dir: String): DataFrame = {
    val P = 4
    val pts = Points.lineitem4d(spark, dir)
    val particles = initParticles(pts, P)
    val (n, objs) = objectives(pts, particles)
    val rows = objs.zipWithIndex.map { case (o, p) =>
      (p, n, BigDecimal(o).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq
    import spark.implicits._
    rows.toDF("p", "n", "obj")
  }

  /** Full seeded PSO loop (pso.java:87-109): transit + evaluate per
    * generation, pbest/gbest tracking. Parametric over everything the
    * reference takes as args (pso.java:54-62: num_iter, num_k,
    * num_particle, c1, c2, w_max, w_min). RNG-bearing -> rows-only.
    * Output: one row per generation (iter, best, iter_ms). */
  def full(pts0: DataFrame, k: Int = K, p0: Int = 4, iters: Int = 4,
           wMax: Double = 0.9, wMin: Double = 0.4,
           c1: Double = 2.0, c2: Double = 2.0, seed: Long = 42,
           ds: Seq[String] = dims): DataFrame = {
    val spark = pts0.sparkSession
    val P = p0
    val rng = new scala.util.Random(seed)

    val pts = pts0.cache()
    try {
      // velocity clamp from per-dim range (the reference computes
      // min/max on read, kmeans.java:219-230); same layout as
      // Points.stats: n, then (min, max) per dim
      val st = pts.agg(count(lit(1)).as("n"),
        ds.flatMap(d => Seq(min(col(d)).as(s"min_$d"), max(col(d)).as(s"max_$d"))): _*).head
      val vMax = ds.indices.map(j =>
        (st.getDouble(2 + 2 * j) - st.getDouble(1 + 2 * j)) / 10.0).toArray

      val D = ds.length
      var pos = initParticles(pts, P, k, ds).map(_.map(_.clone)).toArray
      val vel = Array.fill(P, k, D)(0.0)
      var (n0, objs) = objectives(pts, pos.toSeq, ds)
      var pbest = pos.map(_.map(_.clone))
      var pbestObj = objs.clone()
      var gbestIdx = objs.indices.minBy(objs)
      var gbest = pos(gbestIdx).map(_.clone)
      var gbestObj = objs(gbestIdx)

      val out = scala.collection.mutable.ListBuffer.empty[(Int, Double, Double, Long)]
      for (iter <- 1 to iters) {
        val t0 = System.nanoTime()
        val w = wMax - (wMax - wMin) / iters * (iter - 1)
        for (p <- 0 until P; i <- 0 until k; j <- 0 until D) {
          var v = w * vel(p)(i)(j) +
            c1 * rng.nextDouble() * (pbest(p)(i)(j) - pos(p)(i)(j)) +
            c2 * rng.nextDouble() * (gbest(i)(j) - pos(p)(i)(j))
          if (v > vMax(j)) v = vMax(j) else if (v < -vMax(j)) v = -vMax(j)
          vel(p)(i)(j) = v
          pos(p)(i)(j) += v
        }
        val (_, newObjs) = objectives(pts, pos.toSeq, ds)
        for (p <- 0 until P) {
          if (newObjs(p) < pbestObj(p)) {
            pbestObj(p) = newObjs(p); pbest(p) = pos(p).map(_.clone)
          }
          if (newObjs(p) < gbestObj) {
            gbestObj = newObjs(p); gbest = pos(p).map(_.clone)
          }
        }
        // iteration's own swarm objective + running global best, both —
        // the reference's print_best reports the pair
        out += ((iter, newObjs.min, gbestObj, (System.nanoTime() - t0) / 1000000L))
      }
      import spark.implicits._
      out.toSeq.toDF("iter", "objective", "best", "iter_ms")
    } finally { pts0.unpersist(); () }
  }

  /** Driver-contract entry: the PSO loop with the round-3 literals
    * bound (RNG-bearing -> registered rows-only, SURVEY.md §4). */
  def qFull(spark: SparkSession, dir: String): DataFrame =
    full(Points.lineitem4dSpread(spark, dir)).select("iter", "best")

  // ---- oracle SQL ------------------------------------------------------

  /** pso_evaluate oracle: particles pivoted to one wide row
    * p{p}k{k}_{j}; per-particle objective = avg of least-of-K dists. */
  val oracleEvaluate: String = {
    val P = 4
    val sel =
      s"""sel AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY ${ClusterSql.orderCols}) - 1 AS INT) AS idx
         |  FROM (SELECT * FROM pts ORDER BY ${ClusterSql.orderCols} LIMIT ${P * K}))""".stripMargin
    val wide = "centw AS (SELECT " +
      (0 until P).flatMap(p => (0 until K).flatMap(k => dims.zipWithIndex.map { case (d, j) =>
        s"max(CASE WHEN idx = ${p * K + k} THEN $d END) AS p${p}k${k}_${j + 1}"
      })).mkString(", ") + " FROM sel)"
    val dcols = (0 until P).map { p =>
      "least(" + (0 until K).map(k => ClusterSql.distExprSql(k, s"p${p}k")).mkString(", ") + s") AS dp$p"
    }.mkString(", ")
    val union = (0 until P).map(p =>
      s"SELECT $p AS p, count(*) AS n, round(avg(dp$p), 3) AS obj FROM d").mkString(" UNION ALL ")
    s"""WITH pts AS (${Points.ptsSql}),
       |$sel,
       |$wide,
       |d AS (SELECT p.*, $dcols FROM pts p CROSS JOIN centw)
       |$union""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pso_evaluate" -> (qEvaluate _),
    "pso_full" -> (qFull _))

  val oracleSql: Map[String, String] = Map(
    "pso_evaluate" -> oracleEvaluate)
}
