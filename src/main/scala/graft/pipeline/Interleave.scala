package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Deterministic round-robin source interleave + prefix-composition
  * audit: training order matters — a corpus fed source-by-source
  * gives the optimizer a drifting distribution, so release pipelines
  * interleave sources and then VERIFY that every training prefix
  * already carries each source near its corpus share. The interleave
  * key is (rank-within-source, source): round-robin until a source
  * exhausts, a total order with no RNG (the epoch-shuffle family's
  * determinism rule). The audit reports, per (decile of the
  * interleaved stream, source), the document count, the prefix share
  * so far, and the corpus share it should converge to.
  *
  * Determinism: ranks and positions are integers; shares exact
  * HALF_UP divisions.
  *
  * Scale shape: one source-PARTITIONED rank window (distributed),
  * position arithmetic per row, a (10 x sources)-bounded census, and
  * cumulative sums over that bounded frame. */
object Interleave extends graft.Registry {

  def qInterleave(spark: SparkSession, dir: String): DataFrame =
    interleaveOf(t(spark, dir, "documents").select("doc_id", "source"))

  /** [[qInterleave]] over any (doc_id, source) frame. */
  private[pipeline] def interleaveOf(docs: DataFrame): DataFrame = {
    val srcW = Window.partitionBy("source").orderBy("doc_id")
    val srcIdx = docs.select("source").distinct()
      .withColumn("sidx",
        row_number().over(Window.orderBy("source")).cast("long") - 1)
    val nSrc = srcIdx.count() // driver scalar: source-count literal
    val tot = docs.agg(count(lit(1)).as("n_total"))
    val positioned = docs
      .withColumn("rk", row_number().over(srcW).cast("long"))
      .join(broadcast(srcIdx), "source")
      .withColumn("pos", (col("rk") - 1) * lit(nSrc) + col("sidx") + 1)
    // the round-robin key (rk, sidx) is order-isomorphic to pos even
    // after small sources exhaust (pos just leaves gaps — fine for a
    // decile census over the TOTAL order)
    val census = positioned.crossJoin(broadcast(tot))
      .withColumn("decile", expr(
        "(CAST((pos - 1) AS DECIMAL(38,0)) * 10 div (n_total * " + nSrc + ")) + 1"))
      .groupBy("decile", "source")
      .agg(count(lit(1)).as("n_docs"))
    val cumW = Window.partitionBy("source").orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    val prefW = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    val prefTot = census.groupBy("decile").agg(sum("n_docs").as("dn"))
      .withColumn("prefix_n", sum("dn").over(prefW))
      .select("decile", "prefix_n")
    val srcTot = docs.groupBy("source").agg(count(lit(1)).as("src_n"))
    census
      .withColumn("cum_docs", sum("n_docs").over(cumW))
      .join(broadcast(prefTot), "decile")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("source"), col("n_docs"),
        expr("""CAST((2 * cum_docs * 1000000 + prefix_n)
               |     DIV (2 * prefix_n) AS DOUBLE) / 1000000.0""".stripMargin)
          .as("prefix_share"),
        expr("""CAST((2 * src_n * 1000000 + n_total)
               |     DIV (2 * n_total) AS DOUBLE) / 1000000.0""".stripMargin)
          .as("corpus_share"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_interleave" -> (qInterleave _))

  val oracleSql: Map[String, String] = Map(
    "pipeline_interleave" ->
      """WITH s AS (
        |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |ns AS (SELECT count(*) AS n_src FROM s),
        |tot AS (SELECT count(*) AS n_total FROM documents),
        |p AS (
        |  SELECT d.source, sidx,
        |    (row_number() OVER (PARTITION BY d.source ORDER BY doc_id) - 1)
        |      * n_src + sidx + 1 AS pos
        |  FROM documents d JOIN s ON d.source = s.source CROSS JOIN ns),
        |census AS (
        |  SELECT CAST((pos - 1) * 10 // (n_total * n_src) + 1 AS BIGINT) AS decile,
        |    source, count(*) AS n_docs
        |  FROM p CROSS JOIN tot CROSS JOIN ns GROUP BY 1, 2),
        |pt AS (
        |  SELECT decile, sum(dn) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix_n
        |  FROM (SELECT decile, sum(n_docs) AS dn FROM census GROUP BY 1)),
        |st AS (SELECT source, count(*) AS src_n FROM documents GROUP BY 1)
        |SELECT c.decile, c.source, CAST(c.n_docs AS BIGINT) AS n_docs,
        |  CAST((2 * sum(c.n_docs) OVER (PARTITION BY c.source ORDER BY c.decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        * 1000000 + pt.prefix_n)
        |       // (2 * pt.prefix_n) AS DOUBLE) / 1000000.0 AS prefix_share,
        |  CAST((2 * st.src_n * 1000000 + tot.n_total)
        |       // (2 * tot.n_total) AS DOUBLE) / 1000000.0 AS corpus_share
        |FROM census c
        |JOIN pt ON pt.decile = c.decile
        |JOIN st ON st.source = c.source
        |CROSS JOIN tot""".stripMargin)
}
