package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.MicroGrid
import graft.functions.Exact.{d6, r6}

/** Embedding centroid-drift monitor — the per-class distribution-shift
  * check a production embedding pipeline runs between two snapshots
  * (model refresh, new crawl batch): for every label, how far did the
  * class centroid move? Batches are the deterministic vec_id parity
  * halves (the repo's standing "yesterday/today" split convention, cf.
  * the incremental-dedup batch split).
  *
  * Determinism (GRID-EXACT end-to-end): components quantize to integer
  * micro-units at read (exact scale-0 decision), per-(label, batch)
  * sums accumulate in DECIMAL(38,0) (order-free exact integers), each
  * centroid coordinate is an exact integer HALF_UP division onto the
  * round-6 grid, the squared-drift sum is an exact scale-12 DECIMAL of
  * grid diffs (never a double), and the reported drift2 rounds on that
  * exact decimal. The top-drifted dimension is an argmax over exact
  * decimals with (|shift| DESC, dim ASC) ties. No sqrt, no raw double
  * aggregate — host- and layout-invariant by construction.
  *
  * Scale shape: ONE corpus pass with 2K bounded groups (labels x 2)
  * and 64 integer aggregates each (the embed_standardize shape); all
  * centroid math is driver-side on the K x 2 x 64 literal frame. */
object Drift extends graft.Registry {

  private val D = 64

  def qCentroidDrift(spark: SparkSession, dir: String): DataFrame =
    centroidDriftOf(graft.Tables.t(spark, dir, "embeddings"))

  /** [[qCentroidDrift]] over any (vec_id, embedding, label) frame. */
  private[search] def centroidDriftOf(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val zq = (d: Int) => expr(
      s"CAST(round(CAST(element_at(embedding, ${d + 1}) AS DOUBLE) * 1000000.0) AS BIGINT)")
    val aggs = (0 until D).map(d => sum(zq(d).cast("decimal(38,0)")).as(s"s$d")) :+
      count(lit(1)).as("n")
    val rows = emb
      .groupBy(col("label"), (col("vec_id") % 2).cast("int").as("batch"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    // driver math on the bounded (label, batch) frame: exact grid means
    val byKey = rows.map { r =>
      val sums = Array.tabulate(D)(d => BigInt(r.getDecimal(2 + d).toBigInteger))
      ((r.getInt(0), r.getInt(1)), (sums, r.getLong(2 + D)))
    }.toMap
    val labels = byKey.keys.map(_._1).toSeq.distinct.sorted
    // A label present in only one parity batch (e.g. a single-vector
    // class) has no drift to report: SKIP it, matching the oracle's
    // inner join on (label, batch) — a crash here would turn a
    // plausible data condition into a query failure (advice r13).
    val out = labels.flatMap { l =>
      for ((sa, na) <- byKey.get((l, 0)); (sb, nb) <- byKey.get((l, 1))) yield {
      val diffs = Array.tabulate(D) { d =>
        d6(MicroGrid.roundDiv6(sa(d), BigInt(na))) -
          d6(MicroGrid.roundDiv6(sb(d), BigInt(nb)))
      }
      val drift2 = r6(diffs.map(x => x * x).sum)
      val topDim = diffs.zipWithIndex
        .maxBy { case (x, d) => (x.abs, BigDecimal(-d)) }._2
      (l, na, nb, drift2, topDim, diffs(topDim).toDouble)
      }
    }
    out.toDF("label", "n_a", "n_b", "drift2", "top_dim", "top_dim_shift")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_centroid_drift" -> (qCentroidDrift _))

  val oracleSql: Map[String, String] = Map(
    "embed_centroid_drift" -> {
      val nH = "CAST(c.n AS HUGEINT)"
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS HUGEINT)) AS qv
         |  FROM embeddings),
         |s AS (SELECT label, CAST(vec_id % 2 AS INT) AS batch, ii.i AS d,
         |    sum(qv[ii.i + 1]) AS sx
         |  FROM e, range(0, $D) ii(i) GROUP BY 1, 2, 3),
         |c AS (SELECT label, CAST(vec_id % 2 AS INT) AS batch, count(*) AS n
         |  FROM e GROUP BY 1, 2),
         |m AS MATERIALIZED (SELECT s.label, s.batch, s.d,
         |    CAST(${MicroGrid.sqlRoundDiv6("s.sx", nH)} AS DECIMAL(18,6)) AS mean,
         |    c.n
         |  FROM s JOIN c ON c.label = s.label AND c.batch = s.batch),
         |df AS MATERIALIZED (SELECT a.label, a.d, a.mean - b.mean AS diff,
         |    a.n AS n_a, b.n AS n_b
         |  FROM m a JOIN m b ON a.label = b.label AND a.d = b.d
         |  WHERE a.batch = 0 AND b.batch = 1),
         |top AS (SELECT label, d AS top_dim, CAST(diff AS DOUBLE) AS top_dim_shift,
         |    row_number() OVER (PARTITION BY label ORDER BY abs(diff) DESC, d ASC) AS rk
         |  FROM df),
         |agg AS (SELECT label, CAST(max(n_a) AS BIGINT) AS n_a,
         |    CAST(max(n_b) AS BIGINT) AS n_b,
         |    CAST(round(sum(diff * diff), 6) AS DOUBLE) AS drift2
         |  FROM df GROUP BY label)
         |SELECT agg.label, n_a, n_b, drift2,
         |  CAST(top_dim AS INT) AS top_dim, top_dim_shift
         |FROM agg JOIN top ON top.label = agg.label AND top.rk = 1""".stripMargin
    })
}
