package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Content-defined chunking (CDC) dedup census — the rolling-hash
  * chunking behind file/backup dedup systems (LBFS/Rabin chunking),
  * applied to the corpus: a chunk boundary falls wherever the rolling
  * hash of the last W characters is 0 mod DIV, so boundaries move WITH
  * the content — an insertion early in a document shifts byte offsets
  * but re-synchronizes the remaining chunk stream, which fixed-size
  * blocking never does. The census reports, per source, how much chunk
  * mass is duplicated corpus-wide — the storage/near-dup signal at
  * sub-document granularity (the line/paragraph rows cut on syntax;
  * CDC cuts on content).
  *
  * Determinism: the window hash is the repo's standard 31-poly mod
  * 1e9+7 fold (exact integers); boundary positions are integer
  * comparisons; chunks join on md5(chunk) — the repo's standing
  * collision-free-by-convention content key (survivorship, line
  * dedup), so only bounded 32-char keys shuffle, never the chunk
  * text; counts are exact, fractions one HALF_UP division each
  * widened to DECIMAL(38,0)/HUGEINT.
  *
  * Scale shape: one HOF chunking projection per document (let-bound
  * hash array — the Winnowing O(n^2) guard), one explode to
  * corpus-linear chunk instances, one groupBy on the chunk key + one
  * broadcast-size source rollup. */
object Cdc extends graft.Registry {

  private val W = 8    // rolling window (chars)
  private val DIV = 32 // boundary divisor -> expected chunk ~32 chars

  def qCdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunksOf(t(spark, dir, "documents"))

  /** [[qCdcChunks]] over any (doc_id, text, source) frame.
    *
    * Two O(n)-guards (both measured, 58 s -> sub-second at sf0.1):
    * the char-code array is LET-BOUND once per doc so each window
    * hash is a slice + fold instead of per-position substring walks
    * (the Winnowing discipline), and the chunk array materializes
    * through a localCheckpoint BEFORE the explode — Spark's
    * InferFiltersFromGenerate otherwise clones the entire chunking
    * expression into a pushed `size(...) > 0` filter, and the census
    * self-join doubles everything again (6 evaluations per doc). */
  private[dedup] def cdcChunksOf(docs: DataFrame): DataFrame = {
    // census + join-back keyed on md5(chunk), not the literal text:
    // the standing md5 key convention (survivorship, line dedup) —
    // bounded 32-char keys instead of arbitrary-length chunk tails on
    // BOTH sides of the census shuffle; the length rides along so the
    // text itself never shuffles
    val chunks = chunkFrame(docs)
      .select(col("source"), md5(col("chunk")).as("ck"),
        length(col("chunk")).cast("long").as("clen"))
    val census = chunks.groupBy("ck").agg(count(lit(1)).as("cnt"))
    chunks.join(census, "ck")
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("n_chars"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("cnt") >= 2, col("clen")).otherwise(0L)).as("dup_chars"))
      // dup_char_frac widened to DECIMAL(38,0) BEFORE the multiply —
      // the Inequality/KsTest convention; BIGINT saturates past
      // ~4.6e12 duplicated chars, a corpus size 100 TB reaches
      .select(col("source"), col("n_chunks"), col("n_chars"),
        col("dup_chunks"), col("dup_chars"),
        expr("""CAST((2 * CAST(dup_chars AS DECIMAL(38,0)) * 1000000 + n_chars)
               |     DIV (2 * CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE)
               |  / 1000000.0""".stripMargin)
          .as("dup_char_frac"))
  }

  /** The exploded (doc_id, source, chunk) frame both CDC consumers
    * share. */
  private def chunkFrame(docs: DataFrame): DataFrame = {
    val chunked = docs
      // chunking rides the NATIVE fused expression (graft.functions.
      // CdcChunks): the declarative formulation (kept below for the
      // CdcChunksSpec equivalence pin) re-folds a W-element slice with
      // interpreted HOF lambdas at every character position — ~n*W
      // boxed evaluations + n slice allocations per document
      .withColumn("chunks",
        graft.functions.GraftFunctions.cdcChunks(col("text"), W, DIV))
      .select(col("doc_id"), col("source"), col("chunks"))
      .localCheckpoint(true)
    chunked
      .select(col("doc_id"), col("source"), explode(col("chunks")).as("chunk"))
      .filter(length(col("chunk")) > 0)
  }

  /** The declarative chunking formulation [[graft.functions.CdcChunks]]
    * replaced (expects a `len = length(text) AS BIGINT` column beside
    * `text`) — kept solely as the reference for CdcChunksSpec's
    * native-vs-declarative equivalence pin. */
  private[dedup] val declarativeChunksSql: String =
    s"""CASE WHEN len >= $W THEN
       |  element_at(transform(array(
       |    transform(sequence(1, CAST(len AS INT)),
       |      j -> CAST(ascii(substring(text, j, 1)) AS BIGINT))), cs ->
       |    element_at(transform(array(
       |      concat(array(CAST(0 AS BIGINT)),
       |        filter(transform(sequence($W, CAST(len AS INT)), i ->
       |          CASE WHEN i < len AND
       |            aggregate(slice(cs, i - ${W - 1}, $W),
       |              CAST(0 AS BIGINT), (h, c) -> (h * 31 + c) % 1000000007)
       |            % $DIV = 0
       |          THEN CAST(i AS BIGINT) ELSE CAST(-1 AS BIGINT) END),
       |          p -> p >= 0),
       |        array(len))),
       |      bs -> transform(sequence(1, size(bs) - 1), k ->
       |        substring(text, CAST(element_at(bs, k) + 1 AS INT),
       |          CAST(element_at(bs, k + 1) - element_at(bs, k) AS INT)))), 1)), 1)
       |WHEN len >= 1 THEN array(text)
       |ELSE array() END""".stripMargin

  // ---- CDC near-dup pairs ---------------------------------------------

  private val MIN_CHUNK = 16 // evidence chunks: skip trivially-short ones
  private val CAP = 16       // per-chunk posting cap (hot-chunk guard)
  private val MIN_SHARED = 3 // pair evidence threshold
  private val TOPP = 20

  def qCdcPairs(spark: SparkSession, dir: String): DataFrame =
    cdcPairsOf(t(spark, dir, "documents"))

  /** Near-dup PAIRS from shared CDC chunks — the end-use of the chunk
    * census: two documents sharing MIN_SHARED content-defined chunks
    * of >= MIN_CHUNK chars are near-duplicates at sub-document
    * granularity, robust to insertions (the boundary re-sync
    * property). Hot boilerplate chunks are CAPPED to their first CAP
    * holders by doc id (bounded-heap TopKPerKey — the prefix-join
    * posting discipline), so a chunk shared by a million docs
    * contributes CAP^2 candidate pairs, never a million squared.
    * Top-20 under a total order. */
  private[dedup] def cdcPairsOf(docs: DataFrame): DataFrame = {
    // posting key = md5(chunk): bounded keys through the distinct, the
    // TopKPerKey heap, and both self-join sides (same convention as
    // the census above)
    val evidence = chunkFrame(docs)
      .filter(length(col("chunk")) >= MIN_CHUNK)
      .select(md5(col("chunk")).as("ck"), col("doc_id")).distinct()
    val capped = graft.plans.TopKPerKey(
        evidence.withColumn("nv", lit(0.0)), Seq("ck"), "nv", "doc_id", CAP)
      .select("ck", "doc_id")
    capped.as("a").join(capped.as("b"),
        col("a.ck") === col("b.ck") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= MIN_SHARED)
      .orderBy(col("shared_chunks").desc, col("da").asc, col("db").asc)
      .limit(TOPP)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cdc_chunks" -> (qCdcChunks _),
    "dedup_cdc_pairs" -> (qCdcPairs _))

  /** The chunking CTE chain (b -> ch -> chf) both oracles share. */
  private val chunkCtesSql =
    s"""b AS (
       |  SELECT doc_id, source, text, length(text) AS len,
       |    CASE WHEN length(text) >= $W THEN
       |      list_concat(
       |        list_concat([CAST(0 AS BIGINT)],
       |          list_filter(list_transform(range($W, length(text) + 1), i ->
       |            CASE WHEN i < length(text) AND
       |              list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                  list_transform(range(i - ${W - 1}, i + 1),
       |                    j -> CAST(ascii(substring(text, CAST(j AS INT), 1)) AS BIGINT))),
       |                (h, c) -> (h * 31 + c) % 1000000007)
       |              % $DIV = 0
       |            THEN CAST(i AS BIGINT) ELSE CAST(-1 AS BIGINT) END),
       |            p -> p >= 0)),
       |        [CAST(length(text) AS BIGINT)])
       |    ELSE NULL END AS bs
       |  FROM documents),
       |ch AS (
       |  SELECT doc_id, source, unnest(
       |    CASE WHEN len >= $W THEN
       |      list_transform(range(1, len(bs)), k ->
       |        substring(text, CAST(bs[CAST(k AS INT)] + 1 AS INT),
       |          CAST(bs[CAST(k + 1 AS INT)] - bs[CAST(k AS INT)] AS INT)))
       |    WHEN len >= 1 THEN [text]
       |    ELSE [] END) AS chunk
       |  FROM b),
       |chf AS (SELECT doc_id, source, chunk FROM ch WHERE length(chunk) > 0)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dedup_cdc_pairs" ->
      s"""WITH $chunkCtesSql,
         |ev AS (SELECT DISTINCT md5(chunk) AS ck, doc_id FROM chf
         |  WHERE length(chunk) >= $MIN_CHUNK),
         |capped AS (SELECT ck, doc_id FROM (
         |    SELECT ck, doc_id, row_number() OVER (
         |      PARTITION BY ck ORDER BY doc_id ASC) AS rn FROM ev)
         |  WHERE rn <= $CAP),
         |pairs AS (
         |  SELECT a.doc_id AS da, b2.doc_id AS db, count(*) AS shared_chunks
         |  FROM capped a JOIN capped b2
         |    ON a.ck = b2.ck AND a.doc_id < b2.doc_id
         |  GROUP BY 1, 2
         |  HAVING count(*) >= $MIN_SHARED)
         |SELECT da, db, shared_chunks FROM pairs
         |ORDER BY shared_chunks DESC, da ASC, db ASC
         |LIMIT $TOPP""".stripMargin,
    "dedup_cdc_chunks" ->
      s"""WITH $chunkCtesSql,
         |ck AS (SELECT source, md5(chunk) AS ck, length(chunk) AS clen FROM chf),
         |census AS (SELECT ck, count(*) AS cnt FROM ck GROUP BY 1)
         |SELECT source,
         |  count(*) AS n_chunks,
         |  CAST(sum(clen) AS BIGINT) AS n_chars,
         |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
         |  CAST(sum(CASE WHEN cnt >= 2 THEN clen ELSE 0 END) AS BIGINT)
         |    AS dup_chars,
         |  CAST((2 * CAST(sum(CASE WHEN cnt >= 2 THEN clen ELSE 0 END) AS HUGEINT)
         |        * 1000000 + sum(clen))
         |       // (2 * CAST(sum(clen) AS HUGEINT)) AS DOUBLE) / 1000000.0
         |    AS dup_char_frac
         |FROM ck JOIN census USING (ck)
         |GROUP BY source""".stripMargin)
}
