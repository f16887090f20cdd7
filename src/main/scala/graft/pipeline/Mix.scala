package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.pipeline.Splits.nibbleHashSql

/** Training-mix composition: downsample each source domain to a target
  * rate so the corpus matches a prescribed mixture (the step that turns
  * "whatever we crawled" into "the mix we train on").
  *
  * Same scale contract as Splits: the gate is a pure per-row hash
  * decision — no RNG state, no sampling pass, no shuffle before the
  * gate — so rows die inside the scan's own stage and the sample is
  * stable across reruns and engines. Rates are per-source literals
  * here; a production run would join a tiny broadcast rate table
  * instead, the gate expression is unchanged.
  */
object Mix extends graft.Registry {

  /** Keep-rate percent per source parity: even-numbered sources are
    * "high-quality" domains kept at 75%, odd ones downsampled to 25%. */
  private val EVEN_RATE = 75
  private val ODD_RATE = 25

  private def rateSql(srcNumExpr: String): String =
    s"CASE WHEN ($srcNumExpr) % 2 = 0 THEN $EVEN_RATE ELSE $ODD_RATE END"

  /** Mixed-corpus composition report: per source, corpus size before
    * and after the gate plus the realized rate — the numbers a mix
    * dashboard shows. One pass, one partial-agg shuffle on source. */
  def qMix(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("src_num", expr("CAST(substr(source, 4, 10) AS INT)"))
      .withColumn("kept",
        expr(s"${nibbleHashSql("cast(doc_id as string)")} % 100") <
          expr(rateSql("src_num")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("realized_rate",
        expr(graft.functions.Exact.rate6("n_kept", "n_docs")))

  /** Token budget per run (a literal so the oracle reproduces). */
  private val TOKEN_BUDGET = 1000000L

  /** Token-budget allocation: convert a total training-token budget
    * into per-source document counts — the planning step between the
    * mix's keep rates and an actual sampled corpus. Per source, over
    * the mix-GATED (kept) documents: the estimated subtoken mass
    * (same BPE-ish ceil(len/4) estimate as text_tokens, integral so
    * sums are exact), its share of the kept corpus, and the number of
    * kept-docs a proportional slice of the budget buys — which
    * reduces to ceil(budget * n_kept / total_subtokens), one exact
    * integer-ratio division per source. One corpus pass, one bounded
    * source aggregate, a 1-row broadcast total. */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val kept = t(spark, dir, "documents")
      .withColumn("src_num", expr("CAST(substr(source, 4, 10) AS INT)"))
      .filter(expr(s"${nibbleHashSql("cast(doc_id as string)")} % 100") <
        expr(rateSql("src_num")))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("nst",
        expr("aggregate(ws, CAST(0 AS BIGINT), (a, w) -> a + ((length(w) + 3) div 4))"))
    val per = kept.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("nst").as("subtokens"))
    val total = per.agg(sum("subtokens").as("__t"))
    per.crossJoin(broadcast(total))
      .select(col("source"), col("n_kept"), col("subtokens"),
        expr(graft.functions.Exact.rate6("subtokens", "__t")).as("token_share"),
        ceil(lit(TOKEN_BUDGET).cast("double") * col("n_kept") / col("__t"))
          .cast("long").as("docs_for_budget"))
  }

  /** Temperature exponent for the alpha-sampling report (the public
    * XLM-R/mT5 multilingual recipe: sampling shares proportional to
    * share^alpha upweight low-resource slices). */
  private val MIX_ALPHA = 0.3

  /** Temperature-scaled mixing report: per source, the corpus share,
    * the alpha-tempered target rate share^alpha / sum(share^alpha),
    * and the boost factor over proportional sampling — the standard
    * low-resource upweighting schedule, computed from one bounded
    * source aggregate + a 1-row broadcast normalizer. Shares are
    * ROUNDED 6 before the power so the tempering arithmetic starts
    * from identical numbers in both engines (pow is then a per-row
    * libm call on equal inputs). */
  def qMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum("n_docs").as("__t"))
    val shared = per.crossJoin(broadcast(tot))
      .withColumn("share", expr(graft.functions.Exact.rate6("n_docs", "__t")))
      .withColumn("w", pow(col("share"), lit(MIX_ALPHA)))
    val norm = shared.agg(round(sum("w"), 6).as("__z"))
    shared.crossJoin(broadcast(norm))
      .select(col("source"), col("n_docs"), col("share"),
        round(col("w") / col("__z"), 6).as("temp_rate"),
        round(col("w") / col("__z") / col("share"), 6).as("boost"))
  }

  /** 24-bit uniform in (0,1) from a doc's id hash: the first 6 md5
    * nibbles of `keyExpr`. */
  private[graft] def u24Sql(keyExpr: String): String = u24SliceSql(s"md5($keyExpr)", 0)

  /** 24-bit uniform in (0,1) from nibbles off+1..off+6 of a hex digest
    * expression via the Splits instr() parse (portable to DuckDB
    * verbatim), +0.5 so u is never 0 (ln(0) = -inf). KMeans draws one
    * such slice per round from a row's one digest. */
  private[graft] def u24SliceSql(hexExpr: String, off: Int): String =
    s"((${Splits.nibblesSql(hexExpr, off + 1, 6)}) + 0.5) / 16777216.0"

  /** Weighted sampling WITHOUT replacement (Efraimidis-Spirakis, from
    * the public paper): each doc draws priority u^(1/w) from a
    * deterministic per-doc uniform u, weight w = n_chars, and the
    * top-m priorities per source win — long docs are proportionally
    * likelier but every doc has a chance, unlike top-k-by-weight.
    * Ranked by the monotone-equivalent key ln(u)/w (rounded 6 before
    * ranking, doc_id tie-break, so the cut line is engine-portable).
    *
    * Scale shape: the key is pure per-row arithmetic in the scan
    * stage; per-source top-m is the heap-exec TopKPerKey rewrite
    * (bounded m-row buffers, one hash shuffle on source — never a
    * full per-source sort). */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = 3
    val keyed = t(spark, dir, "documents")
      .withColumn("es_key",
        round(expr(s"ln(${u24Sql("cast(doc_id as string)")})") / col("n_chars"), 6))
    val w = Window.partitionBy("source").orderBy(col("es_key").desc, col("doc_id").asc)
    keyed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= m)
      .select("source", "doc_id", "rank", "es_key")
  }

  /** Per-source document cap (the "max pages per domain" C4-family
    * rule): keep each source's first `n` docs by doc_id, dropping the
    * tail — the blunt-but-standard guard against one domain flooding
    * the mix. Runs on the custom TopKPerKey PHYSICAL operator (bounded
    * n-row heap per source, one hash shuffle, no per-source sort);
    * ordering ascends doc_id via the negated-value trick the exec's
    * (value DESC, tie ASC) contract allows. */
  def qSourceCap(spark: SparkSession, dir: String, n: Int = 20): DataFrame =
    graft.plans.TopKPerKey(
      t(spark, dir, "documents")
        .select(col("source"), col("doc_id"), col("lang"))
        .withColumn("__neg", -col("doc_id").cast("double")),
      Seq("source"), "__neg", "doc_id", n)
      .select("source", "doc_id", "lang", "rank")

  /** Length-bucket caps for the padding-waste report (subtokens; the
    * fairseq-style fixed boundary ladder — literals so the oracle
    * reproduces; OVERFLOW is an out-of-ladder catch-all that pads to
    * its own max like every other bucket). */
  private val LEN_CAPS = Seq(16, 32, 48, 64, 96, 128, 192)
  private val OVERFLOW = 99999999

  private def capSql(lenExpr: String): String =
    LEN_CAPS.map(c => s"WHEN ($lenExpr) <= $c THEN $c").mkString(
      "CASE ", " ", s" ELSE $OVERFLOW END")

  /** Sequence-length bucketing + padding-waste report — the batching
    * decision a trainer makes before building fixed-shape batches:
    * bucket documents by subtoken length on a fixed boundary ladder,
    * then charge each bucket the padding its longest member forces
    * (batches pad to the longest sequence in the batch; the bucket max
    * is the tight upper bound of that). Per bucket: size, real token
    * mass, the realized max length, the padded mass n_docs * max_len
    * and the wasted fraction 1 - real/padded. A final bucket_cap = -1
    * row reports the SAME waste with no bucketing at all (everything
    * padded to the global max) — the number that justifies bucketing.
    * One corpus pass, one tiny groupBy on a computed key; the global
    * row re-aggregates the bounded per-bucket frame, not the corpus. */
  def qLengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val per = t(spark, dir, "documents")
      .withColumn("len",
        expr("aggregate(split(text, ' '), CAST(0 AS BIGINT), (a, w) -> a + ((length(w) + 3) div 4))"))
      .groupBy(expr(capSql("len")).as("bucket_cap"))
      .agg(count(lit(1)).as("n_docs"),
        sum("len").as("sum_tokens"),
        max("len").as("max_len"))
    val global = per.agg(
      lit(-1).as("bucket_cap"),
      sum("n_docs").as("n_docs"),
      sum("sum_tokens").as("sum_tokens"),
      max("max_len").as("max_len"))
    // waste_frac = (padded - real) / padded rounded 6 as an EXACT
    // integer HALF_UP division (round-12 driver flake: the binary-
    // double quotient of two exact integers was rounded by two
    // different round() implementations — Spark via BigDecimal,
    // DuckDB via an fp multiply — which disagree near a midpoint).
    // q = (2*num*1e6 + den) div (2*den) with num = padded - real >= 0
    // ties away from zero exactly like HALF_UP; BIGINT-exact for
    // padded_tokens < 4.6e12 (any realistic per-bucket mass — the
    // oracle mirror runs the identical formula in HUGEINT).
    per.unionByName(global)
      .withColumn("padded_tokens", col("n_docs") * col("max_len"))
      .withColumn("waste_frac", expr(
        """CAST((2 * (padded_tokens - sum_tokens) * 1000000 + padded_tokens)
          |     DIV (2 * padded_tokens) AS DOUBLE) / 1000000.0""".stripMargin))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_length_buckets" -> (qLengthBuckets _),
    "pipeline_mix" -> (qMix _),
    "pipeline_token_budget" -> (qTokenBudget _),
    "pipeline_mix_temperature" -> (qMixTemperature _),
    "pipeline_source_cap" -> ((s: SparkSession, d: String) => qSourceCap(s, d)),
    "pipeline_weighted_sample" -> (qWeightedSample _))

  val oracleSql: Map[String, String] = Map(
    "pipeline_length_buckets" ->
      s"""WITH d AS (SELECT CAST(list_sum(list_transform(string_split(text, ' '),
         |    w -> (len(w) + 3) // 4)) AS BIGINT) AS len FROM documents),
         |per AS (SELECT ${capSql("len")} AS bucket_cap,
         |    count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS sum_tokens,
         |    max(len) AS max_len
         |  FROM d GROUP BY 1),
         |allb AS (SELECT * FROM per
         |  UNION ALL
         |  SELECT -1, CAST(sum(n_docs) AS BIGINT), CAST(sum(sum_tokens) AS BIGINT),
         |    max(max_len) FROM per)
         |SELECT bucket_cap, n_docs, sum_tokens, max_len,
         |  n_docs * max_len AS padded_tokens,
         |  CAST((2 * CAST(n_docs * max_len - sum_tokens AS HUGEINT) * 1000000
         |        + (n_docs * max_len))
         |       // (2 * CAST(n_docs * max_len AS HUGEINT)) AS DOUBLE)
         |    / 1000000.0 AS waste_frac
         |FROM allb""".stripMargin,
    "pipeline_mix_temperature" ->
      s"""WITH per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM per),
         |sh AS (SELECT source, n_docs,
         |    ${graft.functions.Exact.duck6("n_docs", "t")} AS share
         |  FROM per CROSS JOIN tot),
         |wz AS (SELECT source, n_docs, share, pow(share, $MIX_ALPHA) AS w FROM sh),
         |z AS (SELECT round(sum(w), 6) AS z FROM wz)
         |SELECT source, n_docs, share,
         |  round(w / z, 6) AS temp_rate,
         |  round(w / z / share, 6) AS boost
         |FROM wz CROSS JOIN z""".stripMargin,
    "pipeline_token_budget" ->
      s"""WITH kept AS (
         |  SELECT source,
         |    list_sum(list_transform(string_split(text, ' '),
         |      w -> (len(w) + 3) // 4)) AS nst
         |  FROM documents
         |  WHERE ${nibbleHashSql("CAST(doc_id AS VARCHAR)")} % 100 <
         |    ${rateSql("CAST(substr(source, 4, 10) AS INT)")}),
         |per AS (SELECT source, count(*) AS n_kept,
         |    CAST(sum(nst) AS BIGINT) AS subtokens
         |  FROM kept GROUP BY source),
         |tot AS (SELECT CAST(sum(subtokens) AS BIGINT) AS t FROM per)
         |SELECT source, n_kept, subtokens,
         |  ${graft.functions.Exact.duck6("subtokens", "t")} AS token_share,
         |  CAST(ceil($TOKEN_BUDGET.0 * n_kept / t) AS BIGINT) AS docs_for_budget
         |FROM per CROSS JOIN tot""".stripMargin,
    "pipeline_mix" ->
      s"""SELECT source, n_docs, n_kept,
         |  ${graft.functions.Exact.duck6("n_kept", "n_docs")} AS realized_rate
         |FROM (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |  FROM (
         |    SELECT source,
         |      ${nibbleHashSql("CAST(doc_id AS VARCHAR)")} % 100 <
         |        ${rateSql("CAST(substr(source, 4, 10) AS INT)")} AS kept
         |    FROM documents)
         |  GROUP BY source)""".stripMargin,
    "pipeline_source_cap" ->
      """SELECT source, doc_id, lang, rank FROM (
        |  SELECT source, doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id ASC) AS INT) AS rank
        |  FROM documents) WHERE rank <= 20""".stripMargin,
    "pipeline_weighted_sample" ->
      s"""WITH k AS (SELECT source, doc_id,
         |    round(ln(${u24Sql("CAST(doc_id AS VARCHAR)")}) / n_chars, 6) AS es_key
         |  FROM documents),
         |r AS (SELECT *, CAST(row_number() OVER (
         |  PARTITION BY source ORDER BY es_key DESC, doc_id ASC) AS INT) AS rank FROM k)
         |SELECT source, doc_id, rank, es_key FROM r WHERE rank <= 3""".stripMargin)
}
