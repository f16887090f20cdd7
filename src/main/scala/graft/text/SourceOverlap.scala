package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Exact

/** Cross-source vocabulary-overlap matrix: for every source pair, the
  * Jaccard similarity of their word vocabularies — the corpus-curation
  * readout that says which sources are re-crawls / mirrors of each
  * other at the VOCABULARY level (the cross-source duplication matrix
  * `dedup_cross_source_matrix` answers this at the document level;
  * near-identical vocabularies with few shared documents are the
  * paraphrase-mirror signature neither catches alone).
  *
  * Determinism: vocabularies are distinct-word sets, so |A∩B| and the
  * set sizes are exact integers; Jaccard = inter / (|A|+|B|-inter) is
  * the exact HALF_UP 6-dp idiom ([[graft.functions.Exact]]).
  *
  * Scale shape: one distinct on (source, word) — the only corpus-sized
  * shuffle; the intersection is a co-partitioned self-equi-join ON THE
  * WORD KEY whose fan-out per word is bounded by S(S-1)/2 for S
  * sources (S is configuration-bounded, ~tens, never data-sized), and
  * the output is the S x S pair frame. Per-source sizes ride back on a
  * broadcast of the S-row frame. */
object SourceOverlap extends graft.Registry {

  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame =
    overlapOf(t(spark, dir, "documents"))

  /** [[qSourceOverlap]] over any (source, text) frame. */
  private[text] def overlapOf(docs: DataFrame): DataFrame = {
    val sv = docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
    val sizes = sv.groupBy("source").agg(count(lit(1)).as("nv"))
    val inter = sv.select(col("source").as("sa"), col("word"))
      .join(sv.select(col("source").as("sb"), col("word")), "word")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("sa"), col("nv").as("na"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"), col("nv").as("nb"))), "sb")
      .select(col("sa"), col("sb"), col("na"), col("nb"), col("n_common"),
        expr(Exact.rate6("n_common", "na + nb - n_common")).as("jaccard"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_source_overlap" -> (qSourceOverlap _))

  val oracleSql: Map[String, String] = Map(
    "text_source_overlap" ->
      s"""WITH sv AS (
         |  SELECT DISTINCT source, w AS word FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE len(w) > 0),
         |sz AS (SELECT source, count(*) AS nv FROM sv GROUP BY source),
         |it AS (
         |  SELECT a.source AS sa, b.source AS sb, count(*) AS n_common
         |  FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT sa, sb, na.nv AS na, nb.nv AS nb, n_common,
         |  ${Exact.duck6("n_common", "na.nv + nb.nv - n_common")} AS jaccard
         |FROM it JOIN sz na ON na.source = sa JOIN sz nb ON nb.source = sb"""
        .stripMargin)
}
