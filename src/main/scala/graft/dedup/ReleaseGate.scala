package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Release-gate compositions (round-16 third wave): the two numbers a
  * 100 TB release ships AFTER the gates run — what the corpus looks
  * like once contamination is dropped, and what span-level dedup
  * saves. Both are pure compositions of existing verified members
  * (the §2 #112/#40 composition discipline: the pipeline IS the
  * product; each stage is independently oracled).
  *
  * `pipeline_decontaminated_corpus`: the per-source census of the
  * corpus after dropping every document ANY decontamination modality
  * flags — gram overlap (doc ids from `dedup_decontaminate`) or
  * embedding cosine (vec ids from `dedup_decontaminate_embed`; the
  * family's shared id convention, ids <= benchMaxId are the bench).
  * Per source: kept/dropped doc counts and the kept subtoken mass —
  * the composition row a release README publishes next to the
  * decontamination verdict matrix.
  *
  * `dedup_span_savings`: the 1-row corpus KPI of the span rebuild —
  * docs cut, chars before/after, chars saved, and the saved fraction
  * (exact HALF_UP over corpus-scale counts, so rate6's DECIMAL(38,0)
  * widening, NOT the per-doc rate6L).
  *
  * Scale shape: both are bounded rollups over frames whose members
  * already scale (the bloom-prefiltered gram leg, the broadcast
  * bench-vector leg, the staged span match frame); the drop set anti-join
  * moves only (doc_id, source, subtok) rows and lets AQE broadcast
  * the (sparse-in-practice) flagged side. */
object ReleaseGate extends graft.Registry {

  /** Subtoken estimate shared with the Mix family: ceil(word/4). */
  private val SUBTOK =
    "aggregate(split(text, ' '), CAST(0 AS BIGINT), (a, w) -> a + ((length(w) + 3) div 4))"

  def qDecontaminatedCorpus(spark: SparkSession, dir: String,
                            benchMaxId: Long = 5): DataFrame = {
    val flagged = Dedup.decontaminate(spark, dir, benchMaxId)
      .select(col("doc_id"))
      .union(Dedup.qDecontaminateEmbed(spark, dir, benchMaxId)
        .select(col("vec_id").as("doc_id")))
      .distinct()
    // Subtokens are projected BEFORE the anti-join so the join moves
    // (doc_id, source, subtok) rows, never full text; no broadcast
    // hint — contamination is sparse in practice (the flagged set is
    // tiny and AQE broadcasts it), but an adversarial all-contaminated
    // corpus degrades gracefully to a co-partitioned shuffle instead
    // of an unbounded driver broadcast.
    val corpus = t(spark, dir, "documents")
      .filter(col("doc_id") > benchMaxId)
      .select(col("doc_id"), col("source"), expr(SUBTOK).as("subtok"))
    val kept = corpus
      .join(flagged, Seq("doc_id"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("k"), sum("subtok").as("st"))
    // total-spined: a source whose every doc was dropped still reports
    corpus.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("k"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("k"), lit(0L))).as("n_dropped"),
        coalesce(col("st"), lit(0L)).as("subtokens_kept"))
  }

  def qSpanSavings(spark: SparkSession, dir: String): DataFrame = {
    val r = LongestSpan.qSpanRebuild(spark, dir)
    val before = t(spark, dir, "documents")
      .agg(sum(length(col("text")).cast("long")).as("chars_before"))
    r.agg(count(lit(1)).as("n_docs"),
        sum(col("cut").cast("long")).as("n_cut"),
        sum("n_chars_after").as("chars_after"))
      .crossJoin(broadcast(before))
      .select(col("n_docs"), col("n_cut"), col("chars_before"),
        col("chars_after"),
        (col("chars_before") - col("chars_after")).as("chars_saved"),
        expr(graft.functions.Exact.rate6(
          "chars_before - chars_after", "chars_before")).as("saved_frac"))
  }

  /** The multi-cut sibling of [[qSpanSavings]] (round-17): the 1-row
    * KPI of `dedup_span_rebuild_all` — since every qualifying run is
    * excised (not just each loser's maximal one), chars_saved here is
    * the release's FULL span-dedup recovery and is >= the single-cut
    * KPI by construction (LongestSpanSpec pins the per-doc
    * inequality). n_cuts_total counts excised intervals across the
    * corpus, n_cut the docs touched. */
  def qSpanSavingsAll(spark: SparkSession, dir: String): DataFrame = {
    val r = LongestSpan.qSpanRebuildAll(spark, dir)
    val before = t(spark, dir, "documents")
      .agg(sum(length(col("text")).cast("long")).as("chars_before"))
    r.agg(count(lit(1)).as("n_docs"),
        sum((col("n_cuts") > 0).cast("long")).as("n_cut"),
        sum("n_cuts").as("n_cuts_total"),
        sum("n_chars_after").as("chars_after"))
      .crossJoin(broadcast(before))
      .select(col("n_docs"), col("n_cut"), col("n_cuts_total"),
        col("chars_before"), col("chars_after"),
        (col("chars_before") - col("chars_after")).as("chars_saved"),
        expr(graft.functions.Exact.rate6(
          "chars_before - chars_after", "chars_before")).as("saved_frac"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_decontaminated_corpus" ->
      ((s: SparkSession, d: String) => qDecontaminatedCorpus(s, d)),
    "dedup_span_savings" -> (qSpanSavings _),
    "dedup_span_savings_all" -> (qSpanSavingsAll _))

  val oracleSql: Map[String, String] = Map(
    "pipeline_decontaminated_corpus" ->
      s"""WITH gs AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(text) - 3), i -> substr(text, CAST(i AS INT), 5)))) AS g
         |  FROM (SELECT doc_id, ${Dedup.NT} AS text FROM documents)),
         |gram_flagged AS (
         |  SELECT c.doc_id
         |  FROM gs c JOIN gs b ON c.g = b.g
         |  WHERE b.doc_id <= 5 AND c.doc_id > 5
         |  GROUP BY c.doc_id, b.doc_id
         |  HAVING count(*) >= 20),
         |embed_flagged AS (
         |  SELECT vec_id AS doc_id FROM (
         |    SELECT e.vec_id,
         |      ${graft.functions.VectorOps.cosineSql("b.embedding", "e.embedding")} AS cs
         |    FROM embeddings e JOIN embeddings b
         |      ON b.vec_id <= 5 AND e.vec_id > 5 AND b.vec_id != e.vec_id)
         |  WHERE cs >= 0.35),
         |flagged AS (SELECT DISTINCT doc_id FROM
         |  (SELECT doc_id FROM gram_flagged UNION ALL SELECT doc_id FROM embed_flagged)),
         |corpus AS (SELECT * FROM documents WHERE doc_id > 5),
         |kept AS (
         |  SELECT source, count(*) AS n_kept,
         |    CAST(sum(list_sum(list_transform(string_split(text, ' '),
         |      w -> (len(w) + 3) // 4))) AS BIGINT) AS subtokens_kept
         |  FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
         |  GROUP BY source),
         |tot AS (SELECT source, count(*) AS n_docs FROM corpus GROUP BY source)
         |SELECT t.source, t.n_docs,
         |  COALESCE(k.n_kept, 0) AS n_kept,
         |  t.n_docs - COALESCE(k.n_kept, 0) AS n_dropped,
         |  COALESCE(k.subtokens_kept, 0) AS subtokens_kept
         |FROM tot t LEFT JOIN kept k ON k.source = t.source""".stripMargin,
    "dedup_span_savings_all" ->
      s"""WITH ${LongestSpan.gridRunCtes},
         |${LongestSpan.multiCutCtes("runs")},
         |reb AS (SELECT d.doc_id,
         |    len(coalesce(r.new_text, d.text)) AS n_after,
         |    COALESCE(s.n_cuts, 0) AS n_cuts
         |  FROM documents d
         |  LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
         |  LEFT JOIN stats s ON s.doc_id = d.doc_id),
         |agg AS (SELECT count(*) AS n_docs,
         |    CAST(sum(CASE WHEN n_cuts > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
         |    CAST(sum(n_cuts) AS BIGINT) AS n_cuts_total,
         |    CAST(sum(n_after) AS BIGINT) AS chars_after
         |  FROM reb),
         |bef AS (SELECT CAST(sum(len(text)) AS BIGINT) AS chars_before FROM documents)
         |SELECT n_docs, n_cut, n_cuts_total, chars_before, chars_after,
         |  chars_before - chars_after AS chars_saved,
         |  ${graft.functions.Exact.duck6(
             "chars_before - chars_after", "chars_before")} AS saved_frac
         |FROM agg CROSS JOIN bef""".stripMargin,
    "dedup_span_savings" ->
      s"""WITH ${LongestSpan.rebuildCtes},
         |reb AS (SELECT d.doc_id,
         |    len(CASE WHEN c.span IS NULL THEN d.text
         |      ELSE substr(d.text, 1, CAST(c.start AS INT) - 1)
         |        || substr(d.text, CAST(c.start + c.span AS INT)) END) AS n_after,
         |    CASE WHEN c.span IS NULL THEN 0 ELSE 1 END AS is_cut
         |  FROM documents d LEFT JOIN cuts c ON c.doc_id = d.doc_id),
         |agg AS (SELECT count(*) AS n_docs,
         |    CAST(sum(is_cut) AS BIGINT) AS n_cut,
         |    CAST(sum(n_after) AS BIGINT) AS chars_after
         |  FROM reb),
         |bef AS (SELECT CAST(sum(len(text)) AS BIGINT) AS chars_before FROM documents)
         |SELECT n_docs, n_cut, chars_before, chars_after,
         |  chars_before - chars_after AS chars_saved,
         |  ${graft.functions.Exact.duck6(
             "chars_before - chars_after", "chars_before")} AS saved_frac
         |FROM agg CROSS JOIN bef""".stripMargin)
}
