package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.functions.Exact

/** Text-analysis operators over the documents corpus: quality
  * scoring, language-ID heuristic, token counting, canonical
  * fingerprinting, TF-IDF.
  *
  * Everything per-document is a codegen'd HOF over the split word
  * array — no shuffle until an explicit corpus-level aggregation
  * (TF-IDF's document-frequency join).
  */
object TextAnalysis extends graft.Registry {

  private val STOP = Seq("the", "and", "of", "to", "in", "is")

  private val MARKERS: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est"),
    "es" -> Seq("el", "los", "las", "y", "es", "de"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有"))

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("array(", ", ", ")")

  /** Quality scoring: length, vocabulary richness, stopword density. */
  def qQuality(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        // all three rates are integer/integer: exact HALF_UP idiom
        // (graft.functions.Exact), never a rounded double quotient
        expr(Exact.rate6L("aggregate(ws, 0, (a, w) -> a + length(w))",
          "size(ws)")).as("avg_word_len"),
        expr(Exact.rate6L(
          s"size(filter(ws, w -> array_contains(${inList(STOP)}, w)))",
          "size(ws)")).as("stop_ratio"),
        expr(Exact.rate6L("size(array_distinct(ws))", "size(ws)")).as("ttr"))

  /** Flesch reading ease + Flesch-Kincaid grade per document — the
    * classic readability pair every quality-filtering recipe includes
    * next to the Gopher rules: ease = 206.835 - 1.015 (words/sent)
    * - 84.6 (syllables/word); grade = 0.39 (words/sent) + 11.8
    * (syllables/word) - 15.59. Syllables use the standard vowel-group
    * heuristic (runs of [aeiouy] in the lowercased word, min 1 per
    * word) — a per-row fold, no corpus state, no shuffle; sentences
    * split on '. ' with a floor of 1 (this corpus is single-sentence,
    * which just pins the sentence term at n_words). Constants parse to
    * identical doubles in both engines and every division is mirrored
    * in order, so round 6 is bitwise-stable. */
  def qReadability(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_sentences",
        greatest(expr("size(filter(split(text, '\\\\. '), p -> length(p) > 0))"), lit(1))
          .cast("long"))
      .withColumn("n_syllables", expr(
        "aggregate(ws, CAST(0 AS BIGINT), (a, w) -> a + (CASE WHEN length(w) = 0 THEN 0 " +
          "ELSE greatest(CAST(size(regexp_extract_all(lower(w), '[aeiouy]+', 0)) AS BIGINT), 1) END))"))
      .withColumn("wps", col("n_words").cast("double") / col("n_sentences"))
      .withColumn("spw", col("n_syllables").cast("double") / col("n_words"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"), 6)
          .as("flesch_ease"),
        round(lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59), 6)
          .as("fk_grade"))

  /** Marker-word language ID; argmax with fixed tie order, 'und' when
    * nothing matches. (The synthetic corpus shares one vocabulary, so
    * this exercises the operator, not real-language accuracy.) */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
    val withScores = MARKERS.foldLeft(scored) { case (df, (l, ms)) =>
      df.withColumn(s"s_$l",
        expr(s"size(filter(ws, w -> array_contains(${inList(ms)}, w)))").cast("long"))
    }
    val langs = MARKERS.map(_._1)
    val best = langs.init.zipWithIndex.foldRight(lit(langs.last): org.apache.spark.sql.Column) {
      case ((l, i), els) =>
        when(langs.drop(i + 1).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _), lit(l))
          .otherwise(els)
    }
    withScores.select(
      Seq(col("doc_id")) ++ langs.map(l => col(s"s_$l")) :+
        when(greatest(langs.map(l => col(s"s_$l")): _*) === 0, lit("und"))
          .otherwise(best).as("pred_lang"): _*)
  }

  /** Token counting: whitespace tokens, alphabetic tokens, and a
    * BPE-ish subtoken estimate (ceil(len/4) pieces per word). */
  def qTokens(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        expr("size(filter(ws, w -> w rlike '^[a-z]+$'))").cast("long").as("n_alpha"),
        expr("aggregate(ws, CAST(0 AS BIGINT), (a, w) -> a + ((length(w) + 3) div 4))")
          .as("n_subtokens"))

  /** Per-language tokenizer fertility: estimated subtokens per word —
    * the budgeting signal a multilingual training mix needs (fertility
    * says how many model tokens a language's words actually cost, so
    * a fixed token budget buys different word counts per language).
    * Per-row codegen folds feed ONE bounded groupBy on the lang key;
    * both sums are integral so the final ratio is a single exact
    * double division, rounded identically on both sides. */
  def qTokenFertility(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("lang"), size(col("ws")).cast("long").as("nw"),
        expr("aggregate(ws, CAST(0 AS BIGINT), (a, w) -> a + ((length(w) + 3) div 4))")
          .as("nst"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("nw").as("n_words"),
        sum("nst").as("n_subtokens"))
      .withColumn("fertility", expr(Exact.rate6("n_subtokens", "n_words")))

  /** Normalization + PII scrubbing: lowercase, redact email addresses
    * and long digit runs, collapse runs of spaces — the standard
    * pre-training cleanup pass, all codegen'd regexp_replace (global
    * replacement in both engines). */
  def qScrub(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      trim(regexp_replace(regexp_replace(regexp_replace(lower(col("text")),
        "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<email>"),
        "[0-9]{6,}", "<num>"),
        "  +", " ")).as("clean"))

  /** Zero-width and control characters that must not survive ingest:
    * ZWSP/ZWNJ/ZWJ/BOM plus the C0 controls (except \t \n \r) and DEL
    * — invisible bytes that make visually identical texts hash apart.
    * Java regex and DuckDB's RE2 read this class identically. */
  private[graft] val ZW_CONTROL_CLASS =
    "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** The composable Unicode-normalization stage: NFC canonical
    * composition + zero-width/control stripping, fused into ONE native
    * codegen expression (functions.NormalizeText — zero allocation on
    * clean ASCII). On a real multilingual crawl, NFC-vs-NFD variants and
    * zero-width-infiltrated copies of identical text hash to
    * different content keys and silently escape dedup — this stage,
    * applied BEFORE hashing, closes that hole on every IDENTITY path:
    * the exact content key (Dedup.contentHash) AND the shingle inputs
    * of the near-dup families — MinHash signatures/bands, the SimHash
    * fingerprint (batch and streaming), char-n-gram shingles
    * (ngram/decontaminate/bloom/novelty), word sets (LSH verify,
    * containment, TF-IDF cosine), and the prefix-filter join (round-10
    * advice: exact dedup normalized but an NFD re-encode still evaded
    * every NEAR-dup operator). Quality/stat text ops (TTR, entropy,
    * token counts, LM scoring) stay on raw text by design — they
    * measure the document, not its identity. Mirrored exactly by
    * DuckDB's nfc_normalize + the same RE2 class, so consumers stay
    * fully oracled. */
  def normalizeUnicode(c: Column): Column =
    graft.functions.GraftFunctions.normalizeText(c)

  /** SQL fragment mirroring [[normalizeUnicode]] for oracle reuse
    * (DuckDB string literals take the RE2 class verbatim — no escape
    * processing inside single quotes). */
  private[graft] def normalizeUnicodeSql(c: String): String =
    s"regexp_replace(nfc_normalize($c), '$ZW_CONTROL_CLASS', '', 'g')"

  /** Spark-SQL fragment mirroring [[normalizeUnicode]] for splicing
    * into expr(...) strings (the HOF shingle expressions are built as
    * SQL text): normalize_text is session-registered via
    * GraftExtensions. Splice ONLY where the fragment is evaluated once
    * per row (outside HOF lambdas) — inside a lambda it would re-run
    * the normalization per element. */
  private[graft] def normalizeUnicodeSparkSql(c: String): String =
    s"normalize_text($c)"

  /** The scrub pass with the Unicode-normalization stage ahead of it —
    * the full ingest normalization a multilingual corpus needs before
    * any content hash. */
  def qScrubNfc(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      trim(regexp_replace(regexp_replace(regexp_replace(
        lower(normalizeUnicode(col("text"))),
        "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<email>"),
        "[0-9]{6,}", "<num>"),
        "  +", " ")).as("clean"))

  /** Character-distribution Shannon entropy per document — the classic
    * cheap gibberish/boilerplate detector (natural prose sits ~4 bits,
    * random base64 near 6, repeated padding near 0). Canonical
    * explode -> count -> fold shape; n = length(text) rides along as a
    * grouping column so no second pass or join is needed. */
  def qEntropy(spark: SparkSession, dir: String): DataFrame =
    entropyOf(t(spark, dir, "documents"))

  /** Entropy over any (doc_id, text) frame — split out so the
    * empty-text guard is testable on a constructed corpus (empty docs
    * drop, as before).
    *
    * ZERO-shuffle formulation (round 5): the whole computation is a
    * per-row HOF fold — the distinct chars (sorted, so Spark and the
    * oracle fold in the same order) map to their counts and the
    * p*log2(p) terms accumulate left-to-right. The previous explode +
    * groupBy shape materialized one row per CHARACTER (a corpus-sized
    * intermediate at 100 TB); this one never leaves the scan stage. */
  def entropyOf(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 1)
      .withColumn("cs",
        expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))"))
      .select(col("doc_id"),
        round(expr(
          "-aggregate(transform(array_sort(array_distinct(cs)), " +
            "c -> CAST(size(filter(cs, x -> x = c)) AS DOUBLE)), 0.0D, " +
            "(acc, k) -> acc + (k / CAST(size(cs) AS DOUBLE)) " +
            "* log2(k / CAST(size(cs) AS DOUBLE)))"), 6).as("char_entropy"))

  /** Language-ID self-evaluation: the confusion matrix of the
    * heuristic's predictions against the corpus's labeled lang column,
    * with per-true-language share — the operator-quality report that
    * decides whether the cheap n-gram classifier is good enough before
    * gating on it. One join on doc_id + one tiny (lang, pred) agg;
    * per-lang totals broadcast back. */
  def qLangIdEval(spark: SparkSession, dir: String): DataFrame = {
    val pred = qLangId(spark, dir).select(col("doc_id"), col("pred_lang"))
    val cells = t(spark, dir, "documents").select(col("doc_id"), col("lang"))
      .join(pred, "doc_id")
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("lang").agg(sum("n").as("total"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("pred_lang"), col("n"),
        expr(Exact.rate6("n", "total")).as("share"))
  }

  private val CHUNK = 50
  private val STRIDE = 40

  /** Overlapping fixed-size word chunks (50-word windows, stride 40)
    * — how long documents become training sequences. One explode of
    * the per-doc start offsets; the word array is sliced per chunk, no
    * shuffle at all. */
  def qChunk(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(expr(s"sequence(0, greatest(size(ws) - 1, 0), $STRIDE)")).as("st"))
      .select(col("doc_id"),
        expr(s"st div $STRIDE").cast("long").as("chunk_id"),
        expr(s"array_join(slice(ws, st + 1, $CHUNK), ' ')").as("chunk"),
        expr(s"size(slice(ws, st + 1, $CHUNK))").cast("long").as("n_words"))

  /** Polynomial rolling hash (Rabin-Karp style) of the raw character
    * stream: h = (h*31 + code) mod 1e9+7 — the order-SENSITIVE
    * fingerprint complementing the order-invariant vocabulary hash
    * below. The modulus keeps every intermediate < 2^35, so the fold
    * is overflow-free under ANSI arithmetic in both engines. One HOF
    * per document, zero shuffle. */
  def qRollingHash(spark: SparkSession, dir: String): DataFrame =
    rollingHashOf(t(spark, dir, "documents"))

  /** Rolling hash over any (doc_id, text) frame — same guard as
    * entropyOf: empty text folds over an empty array (h = 0), never
    * the descending sequence(1, 0). */
  def rollingHashOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr("aggregate(CASE WHEN length(text) >= 1 THEN " +
        "transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1))) " +
        "ELSE array() END, " +
        "CAST(0 AS BIGINT), (h, c) -> (h * 31 + c) % 1000000007)").as("rh"))

  private val PACK_BUDGET = 120

  /** Sequence packing: assign each document's chunks to fixed
    * word-budget bins by cumulative size (the training-data step that
    * turns variable chunks into fixed-length training rows). The
    * running sum windows PER DOCUMENT — never a global order — so the
    * shuffle key is doc_id and the op scales like any per-key window.
    * Output: one row per (doc, bin) with its chunk count and packed
    * word total. */
  def qPack(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("chunk_id")
    qChunk(spark, dir)
      .withColumn("cum", sum("n_words").over(w))
      .withColumn("bin_id", expr(s"(cum - n_words) div $PACK_BUDGET"))
      .groupBy("doc_id", "bin_id")
      .agg(count(lit(1)).as("n_chunks"), sum("n_words").as("n_words_packed"))
  }

  /** Canonical fingerprint: md5 of the sorted distinct vocabulary —
    * word-order- and duplication-invariant document identity. */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")).as("fp"))

  /** TF-IDF: top-3 terms per document by tf * ln(N/df), ordered on the
    * rounded score for cross-engine rank stability. */
  def qTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // N as a broadcast 1-row aggregate folded into the plan — no
    // separate docs.count() job (round 4); the arithmetic sees the
    // same exact double, so the oracle is unchanged
    val nDf = docs.agg(count(lit(1)).cast("double").as("__n"))
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "word").crossJoin(broadcast(nDf))
      .withColumn("tfidf", round(col("tf") * log(col("__n") / col("df")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("word").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "word", "tf", "df", "tfidf", "rk")
  }

  /** BM25 keyword ranking over the corpus for a fixed query — the
    * lexical-search complement of the vector simsearch operators.
    * avgdl is exact cross-engine (integer sum / count), idf/score
    * formulas are mirrored term-for-term, ranks order on the rounded
    * score. k1=1.2, b=0.75 (standard Robertson parameters). */
  private val BM25_TERMS = Seq("hash", "table", "join")
  private val BM25_K1 = 1.2
  private val BM25_B = 0.75

  def qBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    // N and avgdl as ONE broadcast 1-row aggregate folded into the plan
    // — the old code paid two extra driver jobs (docs.count + avgdl
    // agg) per invocation (round 4). Same division on the same exact
    // doubles, so scores — and the oracle — are unchanged.
    val statsDf = dl.agg(
      count(lit(1)).cast("double").as("__n"),
      (sum("dl").cast("double") / count(lit(1))).as("__avgdl"))
    val tf = words.filter(col("word").isin(BM25_TERMS: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "word").join(dl, "doc_id").crossJoin(broadcast(statsDf))
      .withColumn("idf", log((col("__n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("part",
        col("idf") * (col("tf") * lit(BM25_K1 + 1.0)) /
          (col("tf") + lit(BM25_K1) * (lit(1.0 - BM25_B) + lit(BM25_B) * col("dl") / col("__avgdl"))))
      .groupBy("doc_id").agg(round(sum("part"), 6).as("score"))
    // TakeOrdered first (no full-corpus single-partition window), then
    // rank the surviving 10 rows
    val top = scored.orderBy(col("score").desc, col("doc_id").asc).limit(10)
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w))
      .select("doc_id", "score", "rank")
  }

  /** MATTR lexical diversity (Covington-McFall's moving-average
    * type-token ratio, from the public computational-linguistics
    * literature) — the length-robust replacement for raw TTR, a
    * standard text-quality signal: slide a 50-token window by 25 and
    * average each window's distinct-type count. The whole measure is
    * ONE per-row higher-order-function projection (sequence ->
    * transform -> aggregate over the doc's own word array): no
    * explode, no shuffle, rows never leave their scan partition.
    * Cross-engine exactness: window distinct counts are integers,
    * summed as integers; the single float division happens once at
    * the end. Short docs (< 50 words) degrade to one full-length
    * window, i.e. plain TTR. */
  def qMattr(spark: SparkSession, dir: String): DataFrame =
    mattrOf(t(spark, dir, "documents"))

  /** The MATTR projection over any (doc_id, text) frame. */
  def mattrOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("wlen", least(size(col("ws")), lit(50)))
      .withColumn("starts", expr("sequence(1, size(ws) - wlen + 1, 25)"))
      .withColumn("tot", expr(
        "aggregate(transform(starts, s -> size(array_distinct(slice(ws, s, wlen)))), 0, (a, x) -> a + x)"))
      .select(col("doc_id"), size(col("starts")).as("n_windows"),
        expr(Exact.rate6L("tot", "size(starts) * wlen")).as("mattr"))

  // ---- oracle SQL ------------------------------------------------------

  private def inListSql(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Order/duplication-invariant dedup: group by the canonical
    * fingerprint — catches shuffled/reworded-duplicate docs that exact
    * content hashing misses. */
  def qFingerprintDedup(spark: SparkSession, dir: String): DataFrame =
    qFingerprint(spark, dir)
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_scrub" -> (qScrub _),
    "text_scrub_nfc" -> (qScrubNfc _),
    "text_chunk" -> (qChunk _),
    "text_entropy" -> (qEntropy _),
    "text_rolling_hash" -> (qRollingHash _),
    "pipeline_pack" -> (qPack _),
    "text_fingerprint_dedup" -> (qFingerprintDedup _),
    "text_quality" -> (qQuality _),
    "text_readability" -> (qReadability _),
    "text_langid" -> (qLangId _),
    "text_langid_eval" -> (qLangIdEval _),
    "text_tokens" -> (qTokens _),
    "text_token_fertility" -> (qTokenFertility _),
    "text_fingerprint" -> (qFingerprint _),
    "text_tfidf" -> (qTfidf _),
    "text_mattr" -> (qMattr _),
    "text_bm25" -> (qBm25 _))

  val oracleSql: Map[String, String] = {
    val langs = MARKERS.map(_._1)
    val scoreCols = MARKERS.map { case (l, ms) =>
      s"CAST(len(list_filter(ws, w -> list_contains(${inListSql(ms)}, w))) AS BIGINT) AS s_$l"
    }.mkString(", ")
    val caseArm = langs.init.zipWithIndex.map { case (l, i) =>
      "WHEN " + langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ") + s" THEN '$l'"
    }.mkString(" ")
    Map(
      "text_mattr" ->
        ("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |p AS (SELECT doc_id, ws, least(len(ws), 50) AS wlen,
          |    range(1, len(ws) - least(len(ws), 50) + 2, 25) AS starts
          |  FROM d),
          |a AS (SELECT doc_id, len(starts) AS n_windows, wlen,
          |    list_sum(list_transform(starts,
          |      s -> len(list_distinct(ws[CAST(s AS INT):CAST(s + wlen - 1 AS INT)])))) AS tot
          |  FROM p)
          |SELECT doc_id, CAST(n_windows AS INT) AS n_windows,
          |  """.stripMargin +
        graft.functions.Exact.duck6("tot", "n_windows * wlen") +
        """ AS mattr
          |FROM a""".stripMargin),
      "text_scrub" ->
        """SELECT doc_id,
          |  trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
          |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
          |    '[0-9]{6,}', '<num>', 'g'),
          |    '  +', ' ', 'g')) AS clean
          |FROM documents""".stripMargin,
      "text_scrub_nfc" ->
        s"""SELECT doc_id,
           |  trim(regexp_replace(regexp_replace(regexp_replace(lower(
           |    ${normalizeUnicodeSql("text")}),
           |    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<email>', 'g'),
           |    '[0-9]{6,}', '<num>', 'g'),
           |    '  +', ' ', 'g')) AS clean
           |FROM documents""".stripMargin,
      "text_chunk" ->
        s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |st AS (SELECT doc_id, ws,
           |  CAST(unnest(range(0, greatest(len(ws), 1), $STRIDE)) AS INT) AS s FROM d)
           |SELECT doc_id, CAST(s // $STRIDE AS BIGINT) AS chunk_id,
           |  array_to_string(list_slice(ws, s + 1, s + $CHUNK), ' ') AS chunk,
           |  CAST(len(list_slice(ws, s + 1, s + $CHUNK)) AS BIGINT) AS n_words
           |FROM st""".stripMargin,
      "pipeline_pack" ->
        s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |st AS (SELECT doc_id, ws,
           |  CAST(unnest(range(0, greatest(len(ws), 1), 40)) AS INT) AS s FROM d),
           |ch AS (SELECT doc_id, CAST(s // 40 AS BIGINT) AS chunk_id,
           |  CAST(len(list_slice(ws, s + 1, s + 50)) AS BIGINT) AS n_words FROM st),
           |cum AS (SELECT doc_id, chunk_id, n_words,
           |  CAST(sum(n_words) OVER (PARTITION BY doc_id ORDER BY chunk_id
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM ch)
           |SELECT doc_id, CAST((cum - n_words) // $PACK_BUDGET AS BIGINT) AS bin_id,
           |  count(*) AS n_chunks, CAST(sum(n_words) AS BIGINT) AS n_words_packed
           |FROM cum GROUP BY doc_id, (cum - n_words) // $PACK_BUDGET""".stripMargin,
      "text_rolling_hash" ->
        """SELECT doc_id,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, len(text) + 1),
          |      i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
          |    (h, c) -> (h * 31 + c) % 1000000007) AS rh
          |FROM documents""".stripMargin,
      "text_entropy" ->
        // the same sorted-distinct left fold as the Spark HOF (0.0
        // prepended so list_reduce starts from the same init), term
        // order identical -> bitwise before the round
        """SELECT doc_id,
          |  round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |    list_transform(list_sort(list_distinct(cs)),
          |      c -> (CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs))
          |           * log2(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs)))),
          |    (acc, t) -> acc + t), 6) AS char_entropy
          |FROM (SELECT doc_id, list_transform(range(1, len(text) + 1),
          |    i -> substr(text, CAST(i AS INT), 1)) AS cs
          |  FROM documents WHERE len(text) >= 1)""".stripMargin,
      "text_readability" ->
        """SELECT doc_id,
          |  CAST(len(ws) AS BIGINT) AS n_words,
          |  CAST(greatest(len(list_filter(string_split(text, '. '),
          |    p -> len(p) > 0)), 1) AS BIGINT) AS n_sentences,
          |  CAST(list_sum(list_transform(ws, w -> CASE WHEN len(w) = 0 THEN 0
          |    ELSE greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1) END))
          |    AS BIGINT) AS n_syllables,
          |  round(206.835
          |    - 1.015 * (CAST(len(ws) AS DOUBLE)
          |        / greatest(len(list_filter(string_split(text, '. '), p -> len(p) > 0)), 1))
          |    - 84.6 * (CAST(list_sum(list_transform(ws, w -> CASE WHEN len(w) = 0 THEN 0
          |        ELSE greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1) END))
          |        AS DOUBLE) / len(ws)), 6) AS flesch_ease,
          |  round(0.39 * (CAST(len(ws) AS DOUBLE)
          |        / greatest(len(list_filter(string_split(text, '. '), p -> len(p) > 0)), 1))
          |    + 11.8 * (CAST(list_sum(list_transform(ws, w -> CASE WHEN len(w) = 0 THEN 0
          |        ELSE greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1) END))
          |        AS DOUBLE) / len(ws)) - 15.59, 6) AS fk_grade
          |FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)""".stripMargin,
      "text_quality" ->
        ("""SELECT doc_id,
          |  CAST(len(ws) AS BIGINT) AS n_words,
          |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
          |  """.stripMargin +
        graft.functions.Exact.duck6("list_sum(list_transform(ws, w -> len(w)))",
          "len(ws)") + " AS avg_word_len,\n" +
        graft.functions.Exact.duck6(
          "len(list_filter(ws, w -> list_contains(['the', 'and', 'of', 'to', 'in', 'is'], w)))",
          "len(ws)") + " AS stop_ratio,\n" +
        graft.functions.Exact.duck6("len(list_distinct(ws))", "len(ws)") +
        """ AS ttr
          |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)""".stripMargin),
      "text_langid" ->
        s"""SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
           |  CASE WHEN greatest(${langs.map(l => s"s_$l").mkString(", ")}) = 0 THEN 'und'
           |       $caseArm ELSE '${langs.last}' END AS pred_lang
           |FROM (SELECT doc_id, $scoreCols
           |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))""".stripMargin,
      "text_langid_eval" ->
        s"""WITH pred AS (
           |  SELECT doc_id,
           |    CASE WHEN greatest(${langs.map(l => s"s_$l").mkString(", ")}) = 0 THEN 'und'
           |         $caseArm ELSE '${langs.last}' END AS pred_lang
           |  FROM (SELECT doc_id, $scoreCols
           |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
           |cells AS (
           |  SELECT d.lang, p.pred_lang, count(*) AS n
           |  FROM documents d JOIN pred p USING (doc_id)
           |  GROUP BY d.lang, p.pred_lang),
           |t AS (SELECT lang, sum(n) AS total FROM cells GROUP BY lang)
           |SELECT lang, pred_lang, n,
           |  ${graft.functions.Exact.duck6("n", "total")} AS share
           |FROM cells JOIN t USING (lang)""".stripMargin,
      "text_token_fertility" ->
        s"""WITH d AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
           |a AS (SELECT lang, count(*) AS n_docs,
           |  CAST(sum(len(ws)) AS BIGINT) AS n_words,
           |  CAST(sum(list_sum(list_transform(ws, w -> (len(w) + 3) // 4))) AS BIGINT)
           |    AS n_subtokens
           |  FROM d GROUP BY lang)
           |SELECT lang, n_docs, n_words, n_subtokens,
           |  ${graft.functions.Exact.duck6("n_subtokens", "n_words")} AS fertility
           |FROM a""".stripMargin,
      "text_tokens" ->
        """SELECT doc_id,
          |  CAST(len(ws) AS BIGINT) AS n_tokens,
          |  CAST(len(list_filter(ws, w -> regexp_matches(w, '^[a-z]+$'))) AS BIGINT) AS n_alpha,
          |  CAST(list_sum(list_transform(ws, w -> (len(w) + 3) // 4)) AS BIGINT) AS n_subtokens
          |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)""".stripMargin,
      "text_fingerprint" ->
        """SELECT doc_id,
          |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
          |FROM documents""".stripMargin,
      "text_fingerprint_dedup" ->
        """SELECT fp, min(doc_id) AS keep_id, count(*) AS n_docs FROM (
          |  SELECT doc_id,
          |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
          |  FROM documents) GROUP BY fp""".stripMargin,
      "text_bm25" ->
        """WITH words AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
          |avgdl AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS a FROM dl),
          |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          |tf AS (SELECT doc_id, word, count(*) AS tf FROM words
          |       WHERE word IN ('hash', 'table', 'join') GROUP BY doc_id, word),
          |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
          |scored AS (
          |  SELECT tf.doc_id,
          |    round(sum(
          |      ln(((SELECT n FROM n) - df + 0.5) / (df + 0.5) + 1.0)
          |        * (tf * (1.2 + 1.0))
          |        / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT a FROM avgdl)))), 6) AS score
          |  FROM tf JOIN df ON tf.word = df.word JOIN dl ON tf.doc_id = dl.doc_id
          |  GROUP BY tf.doc_id)
          |SELECT doc_id, score, rank FROM (
          |  SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
          |  FROM scored) WHERE rank <= 10""".stripMargin,
      "text_tfidf" ->
        """WITH tf AS (
          |  SELECT doc_id, word, count(*) AS tf FROM (
          |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
          |  GROUP BY doc_id, word),
          |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
          |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          |scored AS (
          |  SELECT doc_id, tf.word AS word, tf, df,
          |    round(tf * ln((SELECT n FROM n) / df), 6) AS tfidf
          |  FROM tf JOIN df ON tf.word = df.word),
          |r AS (SELECT *, CAST(row_number() OVER (
          |  PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS INT) AS rk FROM scored)
          |SELECT doc_id, word, tf, df, tfidf, rk FROM r WHERE rk <= 3""".stripMargin)
  }
}
