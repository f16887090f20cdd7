package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** EXACT Jaccard similarity join via prefix filtering (the AllPairs /
  * PPJoin family, from the public descriptions in Bayardo-Ma-Srikant
  * and Chaudhuri-Ganti-Kaushik): unlike the LSH band join, which
  * trades false negatives for speed, prefix filtering is LOSSLESS —
  * if J(a, b) >= tau then the two sets' prefixes (the rarest
  * |s| - ceil(tau*|s|) + 1 tokens under a global frequency order)
  * must share a token, so an equi-join on prefix tokens finds every
  * qualifying pair.
  *
  * Run here in the incremental batch-vs-corpus shape (the daily-ingest
  * gate that must NOT miss a duplicate): the small batch's prefix
  * tokens hit the corpus's prefix postings; candidates are verified
  * with the exact Jaccard. Rarest-first ordering is what bounds the
  * postings — each document contributes only its ~(1-tau)|s| LEAST
  * frequent tokens, so hot tokens never form postings.
  *
  * Scale shape: token frequencies are one word-count shuffle; the
  * per-doc rarest-prefix is a sort_array over the doc's own tokens
  * (bounded, per-row); candidates come from ONE equi-join on the
  * prefix token; verification joins the (small) candidate set back to
  * the word sets by id. No CartesianProduct anywhere.
  */
object PrefixJoin extends graft.Registry {

  // tau as a RATIONAL (4/5 = 0.8) so the prefix-length ceiling is
  // exact integer arithmetic on both engines
  private val TAU_NUM = 4
  private val TAU_DEN = 5
  private val TAU = TAU_NUM.toDouble / TAU_DEN
  private val BATCH_MAX_ID = 25L

  /** Exact Jaccard >= tauNum/tauDen pairs between a batch (ia) and the
    * corpus (ib), candidates restricted to prefix-token matches. */
  private def wordSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_distinct(
      split(graft.text.TextAnalysis.normalizeUnicode(col("text")), " ")).as("ws"))

  /** The rarest-first prefix-token index (doc_id, tok): per-doc tokens
    * ordered by global frequency (token tie-break), truncated to the
    * prefix-filtering bound — the index an AllPairs/PPJoin deployment
    * materializes beside its corpus. */
  private def prefixIndex(w: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val tok = w.select(col("doc_id"), explode(col("ws")).as("tok"))
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("f"))
    tok.join(freq, "tok")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("f"), col("tok")))).as("st"))
      // ceil(tau*n) in EXACT integer arithmetic ((p*n + p-1) div q for
      // tau=p/q): float ceil(0.8*30) = ceil(24.000000000000004) = 25
      // would shorten the prefix below the lossless bound
      .select(col("doc_id"),
        expr(s"slice(transform(st, x -> x.tok), 1, " +
          s"size(st) - CAST(($tauNum * size(st) + ${tauNum - 1}) DIV $tauDen AS INT) + 1)")
          .as("pre"))
      .select(col("doc_id"), explode(col("pre")).as("tok"))
  }

  /** The join over pre-built word-set and prefix index frames. */
  private def prefixJoinFrom(w: DataFrame, pre: DataFrame,
                             batchFilter: org.apache.spark.sql.Column,
                             tau: Double): DataFrame = {
    val a = pre.filter(batchFilter)
      .select(col("doc_id").as("ia"), col("tok"))
    val b = pre.select(col("doc_id").as("ib"), col("tok"))
    // pin the candidate-pair seam to the configured shuffle
    // parallelism: the distinct's exchange is needed anyway, but AQE's
    // byte-based coalescing was collapsing this few-hundred-KB frame to
    // ONE task that then paid every pair's intersectSize kernel alone
    // (2.0 s of the query's 2.4 s wall at sf0.1 on local[32])
    val cand = graft.Par.cpuBound(
        a.join(b, "tok").filter(col("ia") =!= col("ib")).select("ia", "ib"),
        col("ia"), col("ib"))
      .distinct()
    cand
      .join(w.select(col("doc_id").as("ia"), col("ws").as("wa")), "ia")
      .join(w.select(col("doc_id").as("ib"), col("ws").as("wb")), "ib")
      .withColumn("__i", graft.functions.GraftFunctions.intersectSize(col("wa"), col("wb")))
      .withColumn("j",
        col("__i").cast("double") / (size(col("wa")) + size(col("wb")) - col("__i")))
      .filter(col("j") >= tau)
      .select("ia", "ib", "j")
  }

  /** Exact Jaccard >= tauNum/tauDen pairs between a batch (ia) and the
    * corpus (ib), candidates restricted to prefix-token matches. */
  def prefixJoin(docs: DataFrame, batchFilter: org.apache.spark.sql.Column,
                 tauNum: Int = TAU_NUM, tauDen: Int = TAU_DEN): DataFrame = {
    val w = wordSets(docs)
    prefixJoinFrom(w, prefixIndex(w, tauNum, tauDen), batchFilter,
      tauNum.toDouble / tauDen)
  }

  /** Word sets and the prefix index staged once per (JVM, dir) at the
    * default tau — the dir-based query reads the stored index instead
    * of re-deriving the global-frequency sort per invocation. */
  def qPrefixJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = graft.Memo.frame(spark, dir, "prews")(wordSets(t(spark, dir, "documents")))
    val pre = graft.Memo.frame(spark, dir, "prefix")(prefixIndex(w, TAU_NUM, TAU_DEN))
    prefixJoinFrom(w, pre, col("doc_id") <= BATCH_MAX_ID, TAU)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_prefix_join" -> (qPrefixJoin _))

  val oracleSql: Map[String, String] = Map(
    "dedup_prefix_join" ->
      s"""WITH w AS (SELECT doc_id, list_distinct(string_split(
         |    ${graft.dedup.Dedup.NT}, ' ')) AS ws FROM documents),
         |tok AS (SELECT doc_id, unnest(ws) AS tok FROM w),
         |f AS (SELECT tok, count(*) AS f FROM tok GROUP BY tok),
         |ord AS (SELECT doc_id, list(tok ORDER BY f, tok) AS toks
         |  FROM tok JOIN f USING (tok) GROUP BY doc_id),
         |pre AS (SELECT doc_id,
         |    unnest(toks[1 : CAST(len(toks)
         |      - ($TAU_NUM * len(toks) + ${TAU_NUM - 1}) // $TAU_DEN + 1 AS INT)]) AS tok
         |  FROM ord),
         |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM pre a JOIN pre b ON a.tok = b.tok
         |  WHERE a.doc_id <= $BATCH_MAX_ID AND a.doc_id != b.doc_id)
         |SELECT ia, ib, j FROM (
         |  SELECT ia, ib,
         |    CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
         |      / (len(wa.ws) + len(wb.ws) - len(list_intersect(wa.ws, wb.ws))) AS j
         |  FROM cand JOIN w wa ON ia = wa.doc_id JOIN w wb ON ib = wb.doc_id)
         |WHERE j >= $TAU""".stripMargin)
}
