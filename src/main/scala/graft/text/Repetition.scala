package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Exact

/** Repetition / degeneracy quality filters in the style public LM
  * training reports describe (Gopher/C4-family rules): documents
  * dominated by one token, by repeated bigrams, or by symbol noise are
  * boilerplate or spam, not prose, and get gated out before training.
  *
  * All three signals are per-document codegen'd HOFs over the split
  * word array — zero shuffle, linear in corpus bytes, exactly the
  * per-row shape that scales to 100 TB. The `keep` gate compares the
  * ROUNDED ratios so the threshold decision is bit-identical across
  * engines.
  */
object Repetition extends graft.Registry {

  // gate thresholds (C4/Gopher-style magnitudes, bound as literals so
  // the oracle is reproducible)
  private val MAX_TOP_WORD_RATIO = 0.2
  private val MAX_DUP_2GRAM_FRAC = 0.2
  private val MAX_SYMBOL_RATIO = 0.1

  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(t(spark, dir, "documents"))

  /** Repetition metrics over any (doc_id, text) frame.
    *
    * - top_word_ratio: count of the most frequent word / n_words —
    *   catches "buy buy buy …" degenerate docs.
    * - dup_2gram_frac: 1 - distinct bigrams / bigrams — catches looped
    *   phrases that unigram stats miss.
    * - symbol_ratio: non-[a-z0-9 space] chars / chars — catches markup
    *   and encoding garbage.
    *
    * The bigram array guards the empty/one-word case explicitly:
    * sequence(1, 0) DESCENDS in Spark (see Dedup.grams), so short docs
    * must produce array(), matching DuckDB's empty range. */
  def repetitionOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      // distinct-bigram count through the NATIVE fused-loop
      // expression (BigramSpec proves it bitwise-equal to the
      // size(array_distinct(transform(...))) form): the declarative
      // bigram array cost 2.6 s of every clean-corpus run at sf0.1.
      // size(g2) == n_words - 1 for n_words >= 2, by construction.
      .withColumn("dbg",
        graft.functions.GraftFunctions.distinctBigramCount(col("ws")).cast("long"))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        // top word count as the longest run of the SORTED words — one
        // O(n log n) sort + one fold, instead of the O(distinct * n)
        // nested filter-per-distinct-word (HOF lambdas are
        // interpreted, so the quadratic form dominated the whole
        // clean-corpus composition). Same integer, oracle unchanged.
        // All three rates below are integer/integer: exact HALF_UP
        // idiom (graft.functions.Exact), never a rounded double
        // quotient; dup_2gram_frac's complement 1 - d/n computes as
        // (n - d)/n so it too stays in integers.
        expr(Exact.rate6L(
          "aggregate(array_sort(ws), named_struct('prev', '', 'run', 0, 'best', 0), " +
            "(acc, w) -> named_struct('prev', w, " +
            "'run', CASE WHEN w = acc.prev THEN acc.run + 1 ELSE 1 END, " +
            "'best', greatest(acc.best, CASE WHEN w = acc.prev THEN acc.run + 1 ELSE 1 END)), " +
            "acc -> acc.best)",
          "size(ws)")).as("top_word_ratio"),
        when(size(col("ws")) >= 2,
          expr(Exact.rate6L("(size(ws) - 1) - dbg", "size(ws) - 1")))
          .otherwise(lit(0.0)).as("dup_2gram_frac"),
        when(length(col("text")) > 0,
          expr(Exact.rate6L("length(regexp_replace(text, '[a-z0-9 ]', ''))",
            "length(text)")))
          .otherwise(lit(0.0)).as("symbol_ratio"))
      .withColumn("keep",
        col("top_word_ratio") <= MAX_TOP_WORD_RATIO &&
          col("dup_2gram_frac") <= MAX_DUP_2GRAM_FRAC &&
          col("symbol_ratio") <= MAX_SYMBOL_RATIO)

  // ---- Gopher-style quality rule bundle --------------------------------

  // Thresholds follow the published Gopher (Rae et al. 2021) filtering
  // rules, with the word-count floor adapted to this corpus's 10-99
  // word documents (the paper's floor is 50 on web pages); bound as
  // literals so the oracle is reproducible.
  private val G_WORDS_MIN = 20
  private val G_WORDS_MAX = 100000
  private val G_MWL_MIN = 3.0
  private val G_MWL_MAX = 10.0
  private val G_ALPHA_MIN = 0.8
  private val G_STOP_MIN = 2
  private val G_SYM_MAX = 0.1
  private val G_STOPWORDS = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule bundle, reported per source: for each of
    * the five per-row rules (word count in range, mean word length in
    * [3,10], >= 80% alphabetic words, >= 2 stopwords, symbol ratio
    * <= 0.1), the count of documents failing it, plus the all-rules
    * pass count and rate. Every rule is a codegen'd per-row
    * expression over the split word array — zero shuffle before the
    * tiny per-source aggregate, the same linear-scan shape as the
    * repetition gates, so the report costs one corpus pass at any
    * scale. */
  def qGopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOf(t(spark, dir, "documents"))

  /** The rule bundle over any (source, text) frame. */
  def gopherRulesOf(docs: DataFrame): DataFrame = {
    val stopList = G_STOPWORDS.map(w => s"'$w'").mkString(", ")
    val rules = docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")))
      .withColumn("mean_wl",
        (length(col("text")) - (col("n_words") - 1)).cast("double") / col("n_words"))
      .withColumn("alpha_frac",
        expr("size(filter(ws, w -> w rlike '[a-z]'))").cast("double") / col("n_words"))
      .withColumn("n_stop", expr(s"size(filter(ws, w -> w IN ($stopList)))"))
      .withColumn("sym_ratio",
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double") / col("n_words"))
      .withColumn("r_words",
        col("n_words") >= G_WORDS_MIN && col("n_words") <= G_WORDS_MAX)
      .withColumn("r_mwl", col("mean_wl") >= G_MWL_MIN && col("mean_wl") <= G_MWL_MAX)
      .withColumn("r_alpha", col("alpha_frac") >= G_ALPHA_MIN)
      .withColumn("r_stop", col("n_stop") >= G_STOP_MIN)
      .withColumn("r_sym", col("sym_ratio") <= G_SYM_MAX)
    def fails(c: String) = sum(when(!col(c), 1L).otherwise(0L)).as(s"n_fail_${c.stripPrefix("r_")}")
    rules.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        fails("r_words"), fails("r_mwl"), fails("r_alpha"),
        fails("r_stop"), fails("r_sym"),
        sum(when(col("r_words") && col("r_mwl") && col("r_alpha") &&
          col("r_stop") && col("r_sym"), 1L).otherwise(0L)).as("n_pass"))
      .withColumn("pass_rate", expr(Exact.rate6("n_pass", "n_docs")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_repetition" -> (qRepetition _),
    "text_gopher_rules" -> (qGopherRules _))

  private val gStopSql = G_STOPWORDS.map(w => s"'$w'").mkString(", ")

  val oracleSql: Map[String, String] = Map(
    "text_gopher_rules" ->
      s"""WITH d AS (SELECT source, text, string_split(text, ' ') AS ws FROM documents),
         |m AS (SELECT source,
         |  len(ws) AS n_words,
         |  CAST(len(text) - (len(ws) - 1) AS DOUBLE) / len(ws) AS mean_wl,
         |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
         |    / len(ws) AS alpha_frac,
         |  len(list_filter(ws, w -> w IN ($gStopSql))) AS n_stop,
         |  CAST(len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |    / len(ws) AS sym_ratio
         |FROM d),
         |r AS (SELECT source,
         |  (n_words >= $G_WORDS_MIN AND n_words <= $G_WORDS_MAX) AS r_words,
         |  (mean_wl >= $G_MWL_MIN AND mean_wl <= $G_MWL_MAX) AS r_mwl,
         |  (alpha_frac >= $G_ALPHA_MIN) AS r_alpha,
         |  (n_stop >= $G_STOP_MIN) AS r_stop,
         |  (sym_ratio <= $G_SYM_MAX) AS r_sym
         |FROM m)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN NOT r_words THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_words,
         |  CAST(sum(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_mwl,
         |  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
         |  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
         |  CAST(sum(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_sym,
         |  CAST(sum(CASE WHEN r_words AND r_mwl AND r_alpha AND r_stop AND r_sym
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  ${graft.functions.Exact.duck6(
             """sum(CASE WHEN r_words AND r_mwl AND r_alpha AND r_stop AND r_sym
               |    THEN 1 ELSE 0 END)""".stripMargin, "count(*)")} AS pass_rate
         |FROM r GROUP BY source""".stripMargin,
    "text_repetition" ->
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         |g AS (SELECT doc_id, text, ws,
         |  list_transform(range(1, len(ws)),
         |    i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]) AS g2 FROM d),
         |m AS (SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  ${graft.functions.Exact.duck6(
             """list_max(list_transform(list_distinct(ws),
               |    x -> len(list_filter(ws, w -> w = x))))""".stripMargin,
             "len(ws)")} AS top_word_ratio,
         |  CASE WHEN len(g2) > 0
         |    THEN ${graft.functions.Exact.duck6(
               "len(g2) - len(list_distinct(g2))", "len(g2)")}
         |    ELSE 0.0 END AS dup_2gram_frac,
         |  CASE WHEN len(text) > 0
         |    THEN ${graft.functions.Exact.duck6(
               "len(regexp_replace(text, '[a-z0-9 ]', '', 'g'))", "len(text)")}
         |    ELSE 0.0 END AS symbol_ratio
         |FROM g)
         |SELECT doc_id, n_words, top_word_ratio, dup_2gram_frac, symbol_ratio,
         |  (top_word_ratio <= $MAX_TOP_WORD_RATIO AND dup_2gram_frac <= $MAX_DUP_2GRAM_FRAC
         |   AND symbol_ratio <= $MAX_SYMBOL_RATIO) AS keep
         |FROM m""".stripMargin)
}
