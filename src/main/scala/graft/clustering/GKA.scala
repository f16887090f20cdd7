package graft.clustering

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Exact.r6

/** Genetic k-means (GKA), re-expressing gka.java Spark-first.
  *
  * The reference ships each chromosome (a full per-point assignment
  * array) through the driver and broadcasts the whole dataset every
  * generation (gka.java:106, 251, 368) — at scale both are driver
  * OOMs. Here the point set is a cached DataFrame, each chromosome is
  * an assignment COLUMN (s0..sP-1), and a generation is:
  *
  *  - transition+fitness (gka.java:104-251 spark_transition_fitness):
  *    per-class mean centers from each chromosome's assignment (ONE
  *    exploded groupBy for all chromosomes), then reassign via a flat
  *    argmin expression; fitness = avg min-dist (scale-stable SSE/n);
  *  - selection (gka.java:253-304 spark_selection): roulette wheel
  *    over 1/fitness — P scalars, legitimately driver-side;
  *  - mutation (gka.java:165-237): with prob Pm per chromosome pick
  *    ONE gene by roulette over (Cm*dmax - dist) — distributed via
  *    Roulette.pickByPrefix (no single-partition window) — and flip
  *    it to a random class.
  */
object GKA extends graft.Registry {
  import Points.{dims, distTo}

  val K = 4

  /** Sentinel center for a class nobody is assigned to: +inf in every
    * dim, so its distance is +inf and argmin never picks it — the
    * exact behavior of the SQL oracle, where a missing class pivots to
    * NULL columns whose distance is coalesced to +infinity
    * (ClusterSql.assignSql). Class INDICES are preserved (compacting
    * would silently renumber every later class). */
  private def emptyClass(ds: Seq[String] = dims): Array[Double] =
    Array.fill(ds.length)(Double.PositiveInfinity)

  /** Per-class mean centers (round 6, SURVEY.md §4) from an assignment
    * column; empty classes become the +inf sentinel. */
  def centersFromAssign(pts: DataFrame, sol: Column, k: Int = K,
                        ds: Seq[String] = dims): Array[Array[Double]] = {
    val byClass = pts.groupBy(sol.cast("int").as("sol"))
      .agg(ds.zipWithIndex.map { case (d, j) => round(avg(col(d)), 6).as(s"c${j + 1}") }.head,
        ds.zipWithIndex.tail.map { case (d, j) => round(avg(col(d)), 6).as(s"c${j + 1}") }: _*)
      .collect()
      .map(r => r.getInt(0) -> ds.indices.map(j => r.getDouble(1 + j)).toArray)
      .toMap
    Array.tabulate(k)(ki => byClass.getOrElse(ki, emptyClass(ds)))
  }

  /** Min distance to any of the centers — the fitness kernel
    * (gka.java:149-164), one codegen'd expression, no shuffle. */
  def minDist(centers: Array[Array[Double]], ds: Seq[String] = dims): Column =
    array_min(array(centers.map(c => distTo(c, ds)): _*))

  /** Per-(chromosome, class) centers for ALL chromosomes in ONE flat
    * conditional aggregation — avg(when(s_i = k, x_j)) for every
    * (i, k, j) — so the "shuffle" is P*K*D partial values per
    * partition, not an exploded copy of the data. Empty classes (null
    * avg) become the +inf sentinel, preserving class indices. */
  def allCenters(state: DataFrame, p: Int, k: Int = K,
                 ds: Seq[String] = dims): Map[Int, Array[Array[Double]]] = {
    val aggs = for (i <- 0 until p; ki <- 0 until k; (d, j) <- ds.zipWithIndex)
      yield round(avg(when(col(s"s$i") === ki, col(d))), 6).as(s"c_${i}_${ki}_$j")
    val row = state.agg(aggs.head, aggs.tail: _*).head
    (0 until p).map { i =>
      val centers = (0 until k).map { ki =>
        val base = (i * k + ki) * ds.length
        if (row.isNullAt(base)) emptyClass(ds)
        else ds.indices.map(j => row.getDouble(base + j)).toArray
      }.toArray
      i -> centers
    }.toMap
  }

  // ---- driver-contract queries ----------------------------------------

  /** Deterministic chromosome fitness: sol = pid % K, centers from the
    * assignment, reassign, report per-new-class (k, n, avg_dist). */
  def qFitness(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.lineitem4d(spark, dir)
    val centers = centersFromAssign(pts, pmod(col("pid"), lit(K)))
    KMeans.assign(pts, centers)
      .groupBy("k")
      .agg(count(lit(1)).as("n"), round(avg(col("dist")), 3).as("avg_dist"))
  }

  /** Deterministic roulette wheel over P chromosome fitnesses
    * (sol_p = (pid+p) % K): p, fitness (round 3), cumulative
    * normalized 1/fitness weight (round 6). gka.java:264-273. */
  def qSelectionWheel(spark: SparkSession, dir: String): DataFrame = {
    val P = 6
    val pts = Points.lineitem4dSpread(spark, dir).cache()
    try {
      // centers for ALL chromosomes in one flat conditional agg, then
      // all P fitnesses in ONE aggregate — 2 near-map-only jobs
      val aggs = for (p <- 0 until P; k <- 0 until K; (d, j) <- dims.zipWithIndex)
        yield round(avg(when(pmod(col("pid") + lit(p), lit(K)) === k, col(d))), 6)
          .as(s"c_${p}_${k}_$j")
      val crow = pts.agg(aggs.head, aggs.tail: _*).head
      val centersByP = (0 until P).map { p =>
        p -> (0 until K).map { k =>
          val base = (p * K + k) * dims.length
          if (crow.isNullAt(base)) emptyClass()
          else dims.indices.map(j => crow.getDouble(base + j)).toArray
        }.toArray
      }.toMap
      val aggRow = pts
        .select((0 until P).map(p => minDist(centersByP(p)).as(s"d$p")): _*)
        .agg(round(avg(col("d0")), 3).as("f0"),
          (1 until P).map(p => round(avg(col(s"d$p")), 3).as(s"f$p")): _*)
        .head
      val fits = (0 until P).map(aggRow.getDouble)
      val iv = fits.map(1.0 / _)
      val tot = iv.sum
      val cums = iv.scanLeft(0.0)(_ + _).tail.map(_ / tot)
      val rows = (0 until P).map(p => (p, fits(p), r6(cums(p))))
      import spark.implicits._
      rows.toDF("p", "fitness", "cum_w")
    } finally { pts.unpersist(); () }
  }

  /** Full seeded GA loop (gka.java:88-102): p chromosomes, `iters`
    * generations of selection -> transition+fitness -> mutation.
    * Parametric over everything the reference takes as args
    * (gka.java:47-57: num_iter, num_k, num_cms, Pm, Cm); `pts0` must
    * carry a unique `rid` (Points.withRid) plus the `ds` dim columns.
    * Output: one row per generation (iter, best, iter_ms). */
  def full(pts0: DataFrame, k: Int = K, p: Int = 4, iters: Int = 3,
           pm: Double = 0.5, cm: Double = 2.0, seed: Long = 42,
           ds: Seq[String] = dims): DataFrame = {
    val spark = pts0.sparkSession
    val rng = new scala.util.Random(seed)

    // init: deterministic pseudo-random assignment per chromosome
    var state = pts0.select(
      (col("rid") +: ds.map(col)) ++
        (0 until p).map(i => pmod(xxhash64(col("rid"), lit(i), lit(seed)), lit(k)).cast("int").as(s"s$i")): _*)
      .cache()
    state.count()
    var liveCache = state

    val out = scala.collection.mutable.ListBuffer.empty[(Int, Double, Double, Long)]
    var best = Double.MaxValue

    for (iter <- 1 to iters) {
      val t0 = System.nanoTime()
      // transition: centers per chromosome (one pass), reassign + dist
      val centers = allCenters(state, p, k, ds)
      // ONE materialized distance-array column per chromosome; min and
      // argmin both read it (round 4 — previously the identical array
      // expression was rebuilt inside array_position, betting on
      // codegen subexpression elimination across withColumns). All p
      // chromosomes' columns land in THREE withColumns calls (r18: the
      // 3-per-chromosome withColumn chain cost 3p analyzer passes per
      // generation — pure driver time, ~1/3 of the query's wall; the
      // expressions and therefore the values are unchanged).
      import scala.jdk.CollectionConverters._
      def cols(f: Int => (String, Column)): java.util.Map[String, Column] =
        (0 until p).map(f).toMap.asJava
      val next = state
        .withColumns(cols(i =>
          s"__da$i" -> array(centers(i).map(c => distTo(c, ds)): _*)))
        .withColumns(cols(i => s"d$i" -> array_min(col(s"__da$i"))))
        .withColumns(cols(i =>
          s"s$i" -> (array_position(col(s"__da$i"), col(s"d$i")) - 1).cast("int")))
        .drop((0 until p).map(i => s"__da$i"): _*)
      val mid = next.cache()
      state = mid
      // fitness + dmax + n in one distributed agg
      val aggRow = state.agg(
        count(lit(1)).as("n"),
        (0 until p).map(i => avg(col(s"d$i")).as(s"f$i")) ++
          (0 until p).map(i => max(col(s"d$i")).as(s"m$i")): _*).head
      val n = aggRow.getLong(0)
      val fitness = (0 until p).map(i => aggRow.getDouble(1 + i)).toArray
      val dmax = (0 until p).map(i => aggRow.getDouble(1 + p + i)).toArray
      best = math.min(best, fitness.min)
      // mid is materialized by the agg above: release the previous
      // generation's cache (unpersist on a lazy projection is a no-op,
      // so track the actual cached frame)
      liveCache.unpersist()
      liveCache = mid

      // mutation (gka.java:165-237): roulette-pick one gene, flip it.
      // Wheel total = sum(Cm*dmax - d) = n*(Cm*dmax - avg d): derived
      // from the agg above, no extra pass over the data. All of the
      // generation's darts are thrown in ONE batched two-pass pick
      // (round 4 — previously 2 jobs per mutating chromosome); the RNG
      // draw order (gate, dart, flip per chromosome) is unchanged, so
      // the picked genes are identical to the sequential version.
      var mutated = state
      val muts = (0 until p).flatMap { i =>
        if (rng.nextDouble() < pm) {
          val dart = rng.nextDouble() * (n * (cm * dmax(i) - fitness(i)))
          Some((i, dart, rng.nextInt(k)))
        } else None
      }
      if (muts.nonEmpty) {
        val withW = state.select(col("rid") +: muts.map { case (i, _, _) =>
          (lit(cm) * lit(dmax(i)) - col(s"d$i")).as(s"mw$i")
        }: _*)
        val rids = Roulette.pickManyByPrefixInPlace(withW, "rid",
          muts.map { case (i, _, _) => s"mw$i" }, muts.map(_._2))
        // one fused withColumns (same analyzer-pass argument as the
        // reassign above; expressions unchanged)
        mutated = mutated.withColumns(muts.zip(rids).map { case ((i, _, flip), rid) =>
          s"s$i" -> when(col("rid") === lit(rid), lit(flip)).otherwise(col(s"s$i"))
        }.toMap.asJava)
      }
      // selection (gka.java:253-304): wheel over 1/fitness, p darts
      val iv = fitness.map(1.0 / _)
      val tot = iv.sum
      val cum = iv.scanLeft(0.0)(_ + _).tail.map(_ / tot)
      val picks = (0 until p).map { _ =>
        val f = rng.nextDouble()
        cum.indexWhere(f < _) match { case -1 => p - 1; case j => j }
      }
      // selection is a pure column remap — left lazy on top of the
      // cached mid state; no extra materialization pass
      state = mutated.select(
        (col("rid") +: ds.map(col)) ++
          (0 until p).map(i => col(s"s${picks(i)}").as(s"s$i")): _*)
      // the iteration's own objective (this generation's best fitness)
      // AND the running best — the reference's print_best reports both
      out += ((iter, fitness.min, best, (System.nanoTime() - t0) / 1000000L))
    }
    liveCache.unpersist() // output below is a literal frame; release the last generation
    import spark.implicits._
    out.toSeq.toDF("iter", "objective", "best", "iter_ms")
  }

  /** Driver-contract entry: the GA loop with the round-3 literals
    * bound (RNG-bearing -> registered rows-only, SURVEY.md §4). */
  def qFull(spark: SparkSession, dir: String): DataFrame =
    // NOT spread: unlike the raw single-row-group scan, withRid's own
    // pid-window exchange already distributes the cached state across
    // the AQE-coalesced post-shuffle partitions (~24 at sf0.1), so an
    // explicit rid-hash spread only adds an exchange — measured solo
    // min-of-5 at sf0.1: 2.56 s plain vs 2.86 s spread. Left alone.
    full(Points.withRid(Points.lineitem4d(spark, dir)))
      .select("iter", "best")

  // ---- oracle SQL ------------------------------------------------------

  import ClusterSql._

  val oracleFitness: String =
    s"""WITH pts AS (${Points.ptsSql}),
       |s AS (SELECT *, CAST(pid % $K AS INT) AS sol FROM pts),
       |${centersSql("sol", "s", "cent")},
       |${widenSql(K, "cent", "centw")},
       |${assignSql(K, "centw", "a1")}
       |SELECT k, count(*) AS n, round(avg(dist), 3) AS avg_dist FROM a1 GROUP BY k""".stripMargin

  val oracleSelectionWheel: String = {
    val P = 6
    val blocks = (0 until P).map { p =>
      s"""s$p AS (SELECT *, CAST((pid + $p) % $K AS INT) AS sol FROM pts),
         |${centersSql("sol", s"s$p", s"cent$p")},
         |${widenSql(K, s"cent$p", s"centw$p")},
         |${assignSql(K, s"centw$p", s"a$p")},
         |f$p AS (SELECT round(avg(dist), 3) AS fitness FROM a$p)""".stripMargin
    }.mkString(",\n")
    val union = (0 until P).map(p =>
      s"SELECT $p AS p, (SELECT fitness FROM f$p) AS fitness").mkString(" UNION ALL ")
    s"""WITH pts AS (${Points.ptsSql}),
       |$blocks,
       |fits AS ($union),
       |w AS (SELECT p, fitness, 1.0 / fitness AS iv FROM fits)
       |SELECT p, fitness,
       |  round(sum(iv) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING)
       |        / (SELECT sum(iv) FROM w), 6) AS cum_w
       |FROM w ORDER BY p""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gka_fitness" -> (qFitness _),
    "gka_selection_wheel" -> (qSelectionWheel _),
    "gka_full" -> (qFull _))

  val oracleSql: Map[String, String] = Map(
    "gka_fitness" -> oracleFitness,
    "gka_selection_wheel" -> oracleSelectionWheel)
}
