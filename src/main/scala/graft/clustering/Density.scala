package graft.clustering

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Grid-based density clustering (the GDBSCAN / grid-DBSCAN shape,
  * from the public DBSCAN literature): points land in fixed-width grid
  * cells, cells denser than a threshold are "core", and core cells
  * that touch (8-neighborhood) merge into clusters — the density
  * complement to the centroid family (k-means/GKA/PSO find convex
  * blobs; density clustering finds arbitrary-shape regions and
  * isolates sparse noise).
  *
  * This is the scale-correct DBSCAN reduction: per-point work is one
  * codegen'd floor() pair (no neighbor search), the per-cell count is
  * one partial-aggregated shuffle on the cell key, and cell-adjacency
  * edges come from an equi-join of each core cell's 8 neighbor keys
  * against the core-cell set. The GRID bounds the remaining state:
  * like the K centers of Lloyd's loop, the cell graph is tiny no
  * matter how large the data, so the final merge is an exact
  * driver-side union-find over the collected cell edges — full
  * transitive components (a fixed-sweep distributed propagation would
  * under-merge long cell chains), with data never leaving executors.
  * The oracle mirrors the exact components with a recursive CTE.
  */
object Density extends graft.Registry {

  private val QTY_W = 5.0 // cell width in l_quantity
  private val PRICE_W = 5000.0 // cell width in l_extendedprice

  /** Density clusters: (cx, cy, n_points, cluster_id) where cluster_id
    * is the min cell key of the cell's connected core component.
    *
    * ONE distributed job: the per-point floor() projection and the
    * cell-count aggregate (the only data-sized work). Everything after
    * is GRID-bounded — occupied cells are capped by the value ranges
    * (~10 quantity x ~30 price cells at ANY scale factor, like the K
    * centers of Lloyd's loop) — so the core threshold (count >= half
    * the mean occupied-cell count, a RELATIVE cut that behaves the
    * same across SFs), the 8-neighborhood edges, and the exact
    * union-find all run driver-side on the one collected cell frame.
    * The pre-round-17 shape did the same bounded work as FIVE Spark
    * jobs (threshold broadcast-join, two collects, a roots
    * re-broadcast join, a final collect); byte-identical results, but
    * each extra job paid fixed scheduler/codegen latency — the band
    * drift REMEASURE_r17 chased. Data never leaves executors except
    * the bounded cell frame. */
  def qDensityGrid(spark: SparkSession, dir: String): DataFrame = {
    val cellRows = t(spark, dir, "lineitem")
      .select(floor(col("l_quantity") / QTY_W).cast("long").as("cx"),
        floor(col("l_extendedprice") / PRICE_W).cast("long").as("cy"))
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("n_points"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val thr = cellRows.map(_._3).sum.toDouble / cellRows.length / 2.0
    val core = cellRows.filter(_._3.toDouble >= thr)
    // Disjoint-bitfield cell key: (cx << 32) | (cy & 0xffffffff) is
    // injective for any 32-bit cell coordinates, negative included —
    // a cx*K + cy pack silently aliases distinct cells once cy leaves
    // [0, K), merging unrelated clusters.
    def pack(cx: Long, cy: Long): Long = (cx << 32) | (cy & 0xffffffffL)
    val coreIds = core.map(c => pack(c._1, c._2)).toSet
    val parent = scala.collection.mutable.Map(coreIds.toSeq.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((cx, cy, _) <- core; dx <- -1 to 1; dy <- -1 to 1
         if dx != 0 || dy != 0) {
      val (ia, ib) = (pack(cx, cy), pack(cx + dx, cy + dy))
      if (ia < ib && coreIds.contains(ib)) {
        val (ra, rb) = (find(ia), find(ib))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
    }
    import spark.implicits._
    core.toSeq.map(c => (c._1, c._2, c._3, find(pack(c._1, c._2))))
      .toDF("cx", "cy", "n_points", "cluster_id")
      .coalesce(1)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cluster_density_grid" -> (qDensityGrid _))

  val oracleSql: Map[String, String] = Map(
    "cluster_density_grid" -> {
      val nbrUnion = (for (dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0) yield
        s"SELECT id AS ia, (cx + $dx) * 4294967296 + ((cy + $dy) & 4294967295) AS ib FROM keyed")
        .mkString(" UNION ALL ")
      s"""WITH RECURSIVE cells AS (
         |  SELECT CAST(floor(l_quantity / $QTY_W) AS BIGINT) AS cx,
         |    CAST(floor(l_extendedprice / $PRICE_W) AS BIGINT) AS cy,
         |    count(*) AS n_points
         |  FROM lineitem GROUP BY 1, 2),
         |thr AS (SELECT CAST(sum(n_points) AS DOUBLE) / count(*) / 2.0 AS t FROM cells),
         |core AS (SELECT cx, cy, n_points FROM cells CROSS JOIN thr
         |  WHERE CAST(n_points AS DOUBLE) >= t),
         |keyed AS (SELECT cx, cy, n_points,
         |  cx * 4294967296 + (cy & 4294967295) AS id FROM core),
         |nbr AS ($nbrUnion),
         |edges AS (SELECT nbr.ia, nbr.ib FROM nbr
         |  JOIN keyed k ON nbr.ib = k.id WHERE nbr.ia < nbr.ib),
         |e2 AS (SELECT ia AS s, ib AS d FROM edges
         |       UNION ALL SELECT ib AS s, ia AS d FROM edges),
         |reach(node, r) AS (
         |  SELECT id, id FROM keyed
         |  UNION
         |  SELECT e2.s, reach.r FROM reach JOIN e2 ON e2.d = reach.node)
         |SELECT k.cx, k.cy, k.n_points, m.cluster_id
         |FROM keyed k JOIN (
         |  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node) m
         |ON m.node = k.id""".stripMargin
    })
}
