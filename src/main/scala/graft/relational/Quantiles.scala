package graft.relational

import java.math.{BigDecimal => JBD}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exact distributed quantiles with BOUNDED executor and driver state —
  * the scale-safe replacement for Spark's `percentile`, whose single
  * aggregation buffer accumulates a value→count map of EVERY distinct
  * value of the column on one reducer (an executor OOM once the value
  * domain stops fitting in memory: `l_extendedprice` at 100 TB has
  * ~10⁸⁺ distinct doubles).
  *
  * One selector serves both entries: over rows (group, value, mass),
  * for each (group, threshold T) it finds the smallest value whose
  * cumulative mass reaches T, and it returns each group's total mass.
  *   - unweighted ([[grouped]], [[exact]]): the mass is a BIGINT 1 per
  *     row, so rank r (0-based) is threshold r + 1, and the answer is
  *     `percentile`'s `(k₂−r)·lower + (r−k₁)·higher` interpolation.
  *   - weighted ([[weightedGrouped]], [[weightedExact]]): Q(p) is the
  *     smallest value whose cumulative weight reaches p of the total
  *     weight (the "weighted lower quantile"; "below what unit price
  *     does half the shipped QUANTITY sit"). The mass is decimal(38,6)
  *     — Spark's decimal sum is exact and order-independent — and the
  *     threshold is W · BigDecimal(p's decimal string), mirrored by the
  *     oracle's DECIMAL literal product, so `probs` must be
  *     decimal-exact literals (0.25, not 1.0/3).
  *
  * Algorithm — iterative bucket refinement, the classic distributed
  * exact-selection scheme, with the stats pass FUSED into the first
  * histogram pass so the typical query is two scans total:
  *
  *   pass 1   groupBy(group, binade bucket(v)) → (mass, rows, min, max)
  *            where the bucket is a rank-preserving function of the
  *            double's sign/binary-exponent/log-mantissa — computable
  *            WITHOUT knowing per-group min/max, statically bounded
  *            (≤ ~4300·32 ids). One scan yields per-group totals AND
  *            the first bracket refinement.
  *   pass k   histogram the current bracket into 1024 buckets, keep the
  *            bucket where the mass reaches the threshold, recurse
  *                                                  O(|brackets|·1024)
  *   final    collect the ≤ residualCap rows left in the bracket and
  *            walk their mass on the driver            O(residualCap)
  *
  * Every aggregation in every pass is a partial-aggregated groupBy
  * over a STATICALLY bounded key space; the only row collect is capped
  * at `residualCap` by construction. Typical data resolves in ONE
  * fused pass + one residual pass = 2 scans of a 3-column projection.
  * The input is deliberately NOT cached: recomputing a cheap projection
  * beats materializing a corpus-wide cache at 100 TB, and locally the
  * pass count is what dominates, not the scan.
  *
  * Exactness: both bucket functions are monotone in the value (floor∘
  * log2 — java.lang.Math.log is semi-monotonic, division by the
  * positive constant ln 2 and floor preserve order; and floor((v−lo) /
  * (hi−lo)·1024), whose every step is monotone), and the next bracket
  * is the chosen bucket's OBSERVED [min, max], so a monotone bucket
  * puts every value of that range in that bucket and bracket
  * membership (lo ≤ v ≤ hi, comparisons against exact driver doubles)
  * selects exactly the bucket's rows. Mass is walked as exact integers
  * or decimals, never doubles. A bracket's min lands in bucket 0 and
  * its max in bucket 1023, so every pass splits it; each pass also
  * narrows it ≥1024× from a pass-1 bracket inside one 32nd of a binade,
  * so even an all-values-within-a-few-ulps column ends in a few passes.
  * The unweighted interpolation keeps results bitwise-identical to the
  * single-buffer aggregate (QuantilesSpec asserts this on adversarial
  * data).
  *
  * NaN policy: NaNs are filtered with nulls (a corrupt value must not
  * abort the query — the bracket comparisons would silently drop it
  * and the row-count invariant would throw). This deliberately
  * diverges from `percentile`, which sorts NaN above every value.
  *
  * Group-cardinality contract: driver state is O(|groups| × 1024)
  * histogram cells per pass, so the engine targets BOUNDED group
  * counts (dims, event types, languages, quartile gates — every call
  * site here). For data-sized group keys (per-user, per-document) use
  * `approx_percentile`, whose GK sketch merges distributively; an
  * exact answer at that cardinality is a different algorithm
  * (per-group selection), not a bigger driver.
  */
object Quantiles {

  val Buckets = 1024
  val DefaultResidualCap = 65536

  /** Sub-buckets per binade in the fused first pass: 32 splits the
    * mantissa's log evenly so a group spanning b binades lands in
    * ≤ 32·b buckets — typical columns (tens of binades) refine to
    * residual-sized brackets in the one fused pass. */
  private val SubBuckets = 32

  /** The i-th threshold of a group. */
  private final case class Target(group: String, i: Int)
  /** Values lo ≤ v ≤ hi of one group: `rows` rows above `massBelow`. */
  private final case class Bracket(lo: Double, hi: Double, massBelow: JBD, rows: Long)
  /** One histogram bucket's mass, row count and observed [mn, mx]. */
  private final case class Cell(mass: JBD, rows: Long, mn: Double, mx: Double)

  /** Exact interpolated quantiles of `valueCol` per `groupCol` value.
    * Returns group → prob → quantile (groups with zero non-null rows
    * are absent). Bounded state everywhere; see object doc. */
  def grouped(df: DataFrame, groupCol: String, valueCol: String,
              probs: Seq[Double],
              residualCap: Int = DefaultResidualCap)
      : Map[String, Map[Double, Double]] =
    groupedWithCounts(df, groupCol, valueCol, probs, residualCap)._1

  /** As [[grouped]], but also returns each group's row count (already
    * summed by the fused pass — callers reporting it run no count). */
  def groupedWithCounts(df: DataFrame, groupCol: String, valueCol: String,
                        probs: Seq[Double],
                        residualCap: Int = DefaultResidualCap)
      : (Map[String, Map[Double, Double]], Map[String, Long]) = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0))
    val base = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"), lit(1L).as("w"))
      .filter(col("v").isNotNull && !isnan(col("v")))
    // Ranks needed per group: floor and ceil of p·(n−1), deduped.
    def ranks(n: Long): IndexedSeq[Long] = probs.flatMap { p =>
      val r = p * (n - 1)
      Seq(math.floor(r).toLong, math.ceil(r).toLong)
    }.distinct.toIndexedSeq
    val (found, totals) = select(base,
      w => ranks(w.longValueExact).map(r => JBD.valueOf(r + 1)), residualCap)
    val counts = totals.map { case (g, w) => g -> w.longValueExact }
    (counts.map { case (g, n) =>
      val at = ranks(n).zip(found(g)).toMap
      g -> probs.map { p =>
        val r = p * (n - 1)
        val k1 = math.floor(r).toLong
        val k2 = math.ceil(r).toLong
        val lo = at(k1)
        val hi = at(k2)
        // percentile's exact interpolation form (two products, not
        // lo + Δ·frac — they differ by an ulp and the oracle is bitwise)
        val q = if (k1 == k2 || lo == hi) lo
                else (k2 - r) * lo + (r - k1) * hi
        p -> q
      }.toMap
    }, counts)
  }

  /** Ungrouped convenience: exact quantiles of one column. */
  def exact(df: DataFrame, valueCol: String, probs: Seq[Double],
            residualCap: Int = DefaultResidualCap): Map[Double, Double] =
    exactWithCount(df, valueCol, probs, residualCap)._1

  /** As [[exact]], with the non-null row count; an empty column gives
    * an empty map and 0. */
  def exactWithCount(df: DataFrame, valueCol: String, probs: Seq[Double],
                     residualCap: Int = DefaultResidualCap): (Map[Double, Double], Long) = {
    val (qs, counts) = groupedWithCounts(df.withColumn("__g", lit("all")), "__g",
      valueCol, probs, residualCap)
    (qs.getOrElse("all", Map.empty), counts.getOrElse("all", 0L))
  }

  /** group → prob → weighted quantile (groups with zero positive-
    * weight rows are absent). */
  def weightedGrouped(df: DataFrame, groupCol: String, valueCol: String,
                      weightCol: String, probs: Seq[Double],
                      residualCap: Int = DefaultResidualCap)
      : Map[String, Map[Double, Double]] =
    weightedGroupedWithTotals(df, groupCol, valueCol, weightCol, probs, residualCap)._1

  /** As [[weightedGrouped]], but also returns each group's exact total
    * weight (already summed by the fused pass — consumers reporting
    * the total should not pay a second scan). */
  def weightedGroupedWithTotals(df: DataFrame, groupCol: String, valueCol: String,
                                weightCol: String, probs: Seq[Double],
                                residualCap: Int = DefaultResidualCap)
      : (Map[String, Map[Double, Double]], Map[String, JBD]) = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0))
    val base = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"),
        col(weightCol).cast("decimal(38,6)").as("w"))
      .filter(col("v").isNotNull && !isnan(col("v")) &&
        col("w").isNotNull && col("w") > 0)
    val (found, totals) = select(base,
      w => probs.map(p => w.multiply(new JBD(p.toString))).toIndexedSeq, residualCap)
    (found.map { case (g, vs) => g -> probs.zip(vs).toMap }, totals)
  }

  /** Ungrouped weighted convenience. */
  def weightedExact(df: DataFrame, valueCol: String, weightCol: String,
                    probs: Seq[Double],
                    residualCap: Int = DefaultResidualCap): Map[Double, Double] =
    weightedGrouped(df.withColumn("__g", lit("all")), "__g", valueCol, weightCol,
      probs, residualCap).getOrElse("all", Map.empty)

  /** The selector over `base` (g, v, w): for each group, the smallest v
    * whose cumulative mass reaches each threshold `thresholds(W)` of its
    * total mass W, in threshold order; and each group's W. */
  private def select(base: DataFrame, thresholds: JBD => IndexedSeq[JBD],
                     residualCap: Int)
      : (Map[String, IndexedSeq[Double]], Map[String, JBD]) = {
    // ---- Fused pass 1: totals + first refinement in ONE scan. ----
    // Rank-preserving bucket id from the value alone:
    //   0 for ±0; ±(binade·32 + log-mantissa-32th) for finite v;
    //   ±2200·32 sentinels for ±Infinity (their own width-zero
    //   buckets, so every later bracket has FINITE width).
    val v = col("v")
    val lg = least(lit(1025.0), greatest(lit(-1074.0), log(2.0, abs(v))))
    val e = floor(lg)
    val sub = least(lit(SubBuckets - 1), greatest(lit(0),
      floor((lg - e) * SubBuckets).cast("int")))
    val mag = (lit(1100) + e.cast("int")) * SubBuckets + sub
    val bucket =
      when(v === 0.0, 0)
        .when(v === Double.PositiveInfinity, 2200 * SubBuckets)
        .when(v === Double.NegativeInfinity, -2200 * SubBuckets)
        .otherwise(when(v < 0.0, -1).otherwise(1) * mag)
    val first = cells[String](base.groupBy(col("g"), bucket).agg(cellAggs.head, cellAggs.tail: _*))

    val totals = first.map { case (g, cs) => g -> cs.map(_.mass).foldLeft(JBD.ZERO)(_.add(_)) }
    val wanted = totals.map { case (g, w) => g -> thresholds(w) }
    val resolved = scala.collection.mutable.Map.empty[Target, Double]
    // Walk one bracket's cells (value order) from `below` to the cell
    // where the mass reaches target t's threshold: resolved if that
    // cell holds one distinct value (a tie block of any size costs no
    // further pass), else the next bracket is its observed [mn, mx].
    def step(t: Target, cs: IndexedSeq[Cell], below: JBD): Option[(Target, Bracket)] = {
      val thr = wanted(t.group)(t.i)
      var cum = below
      var i = 0
      while (i < cs.length && cum.add(cs(i).mass).compareTo(thr) < 0) {
        cum = cum.add(cs(i).mass)
        i += 1
      }
      require(i < cs.length, s"mass $thr unreached for group ${t.group}")
      val c = cs(i)
      if (c.mn == c.mx) { resolved(t) = c.mn; None }
      else Some(t -> Bracket(c.mn, c.mx, cum, c.rows))
    }

    var active: Map[Target, Bracket] = wanted.toSeq.flatMap { case (g, ts) =>
      ts.indices.flatMap(i => step(Target(g, i), first(g), JBD.ZERO))
    }.toMap
    var pass = 0
    while (active.nonEmpty && pass < 64) {
      pass += 1
      // Targets that walked into the same bucket share one bracket.
      val ids = active.toSeq.map { case (t, b) => (t.group, b.lo, b.hi) -> b.rows }
        .distinct.zipWithIndex.map { case ((k, rows), id) => k -> (id, rows) }.toMap
      val (small, big) = ids.partition(_._2._2 <= residualCap)
      // Small brackets: every row is its own cell. Large brackets: a
      // 1024-bucket histogram; dividing BEFORE scaling keeps a wide
      // bracket from overflowing (hi−lo is finite: a pass-1 bucket
      // never spans mixed signs or an Infinity).
      val got =
        (if (small.isEmpty) Map.empty[Int, IndexedSeq[Cell]]
         else cells[Int](members(base, small).select(col("id"), col("w"),
           lit(1L), col("v"), col("v")))) ++
        (if (big.isEmpty) Map.empty[Int, IndexedSeq[Cell]]
         else cells[Int](members(base, big).groupBy(col("id"),
           least(lit(Buckets - 1), greatest(lit(0),
             floor((v - col("lo")) / (col("hi") - col("lo")) * Buckets).cast("int"))))
           .agg(cellAggs.head, cellAggs.tail: _*)))
      active = active.toSeq.flatMap { case (t, b) =>
        val cs = got.getOrElse(ids((t.group, b.lo, b.hi))._1, IndexedSeq.empty)
        require(cs.map(_.rows).sum == b.rows,
          s"pass $pass lost rows: ${cs.map(_.rows).sum} != ${b.rows} for $t $b")
        step(t, cs, b.massBelow)
      }.toMap
    }
    require(active.isEmpty, s"quantile refinement did not converge in $pass passes")

    (wanted.map { case (g, ts) => g -> ts.indices.map(i => resolved(Target(g, i))) }, totals)
  }

  /** A histogram cell's aggregates, after its key columns. */
  private val cellAggs = Seq(sum("w"), count(lit(1)), min("v"), max("v"))

  /** Collects one histogram job — rows of (key, [bucket,] mass, rows,
    * min, max) — into each key's cells in value order. Buckets are
    * monotone in the value, so ordering by min orders them. */
  private def cells[K](hist: DataFrame): Map[K, IndexedSeq[Cell]] = {
    val n = hist.columns.length
    hist.collect().toSeq.groupBy(_.getAs[K](0)).map { case (k, rs) =>
      k -> rs.map(r => Cell(mass(r, n - 4), r.getLong(n - 3), r.getDouble(n - 2),
        r.getDouble(n - 1))).sortBy(_.mn).toIndexedSeq
    }
  }

  /** BIGINT (unweighted) or DECIMAL (weighted) mass as an exact decimal. */
  private def mass(r: Row, i: Int): JBD = r.get(i) match {
    case n: java.lang.Long => JBD.valueOf(n)
    case d: JBD => d
  }

  /** The rows of `base` inside each bracket (group, lo, hi) → id, as
    * (id, lo, hi, v, w). A row is checked only against its own group's
    * brackets, looked up in a literal map — the same work as a
    * broadcast join on g, without the broadcast job. */
  private def members(base: DataFrame,
                      brackets: Map[(String, Double, Double), (Int, Long)]): DataFrame = {
    val byGroup: Map[String, Seq[(Int, Double, Double)]] =
      brackets.toSeq.groupBy(_._1._1).map { case (g, bs) =>
        g -> bs.map { case ((_, lo, hi), (id, _)) => (id, lo, hi) }
      }
    val mine = typedLit(byGroup)
    base.filter(col("g").isin(byGroup.keys.toSeq: _*))
      .select(col("v"), col("w"), explode(filter(mine(col("g")),
        b => col("v") >= b("_2") && col("v") <= b("_3"))).as("b"))
      .select(col("b._1").as("id"), col("b._2").as("lo"), col("b._3").as("hi"),
        col("v"), col("w"))
  }
}
