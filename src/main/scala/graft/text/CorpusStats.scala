package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Corpus-level statistics a training-data pipeline reports before and
  * after every filtering stage: the vocabulary head, a unigram-LM
  * quality score, and the per-source composition report.
  *
  * Scale shapes: vocabulary aggregation is ONE map-side-combined
  * shuffle on the word key (the classic word-count plan — partial
  * counts per partition, tiny merged state); the top-20 head is a
  * TakeOrderedAndProject, never a global sort. The unigram scorer
  * re-joins the exploded corpus to the vocabulary on the word key —
  * an equi-join that co-partitions both sides by word, no broadcast
  * needed, so it holds when the vocabulary itself is huge.
  */
object CorpusStats extends graft.Registry {

  private val TOPK = 20

  /** Corpus vocabulary head: the TOPK most frequent words with their
    * occurrence and document frequencies. */
  def qVocabTopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n_occurrences"), countDistinct("doc_id").as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("word").asc)
      .limit(TOPK)

  /** Unigram-LM document quality score: mean log2 corpus probability
    * of the document's words — the cheapest "does this read like the
    * corpus" signal (public LM reports gate on exactly this family of
    * scores). No smoothing needed: every word in every document is by
    * construction in the corpus vocabulary. */
  def qUnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    // word explode derived twice (totals+vocab, scoring) — spread the
    // text scan so the per-doc split work parallelizes (Tables.docsSpread)
    val docs = graft.Tables.docsSpread(spark, dir)
    // corpus totals as a broadcast 1-row aggregate (no separate job)
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val totals = words.agg(count(lit(1)).cast("double").as("__t"))
    val vocab = words.groupBy("word").agg(count(lit(1)).as("c"))
    words.join(vocab, "word").crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        round(avg(log2(col("c") / col("__t"))), 6).as("avg_log2p"))
  }

  /** Minimum document frequency for a word 5-gram to count as
    * corpus-frequent boilerplate. */
  private val BP_MIN_DF = 3
  private val BP_N = 5

  /** Distinct word-5-grams of a `ws` word-array column. Guard: Spark's
    * sequence(1, n) DESCENDS for n < 1 (the Dedup.grams pitfall), so
    * short docs get an explicit empty array; the DuckDB range() mirror
    * is already empty there. */
  private val wordGrams: Column =
    expr(s"CASE WHEN size(ws) >= $BP_N THEN " +
      s"array_distinct(transform(sequence(1, size(ws) - ${BP_N - 1}), " +
      s"i -> array_join(slice(ws, i, $BP_N), ' '))) ELSE array() END")

  private def docGrams(spark: SparkSession, dir: String): DataFrame =
    // word-5-gram explode, the boilerplate family's per-doc hot loop —
    // measured as a 0.6 s single-task stage; spread the text scan
    graft.Tables.docsSpread(spark, dir)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(wordGrams).as("gram"))

  /** Boilerplate span mining: word 5-grams appearing in >= BP_MIN_DF
    * distinct documents — the repeated-span detector (CCNet-style
    * pipelines drop or down-weight exactly these spans). One
    * map-side-combined shuffle on the gram key; the frequent set is
    * tiny relative to the corpus. */
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame =
    docGrams(spark, dir)
      .groupBy("gram")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= BP_MIN_DF)

  /** Per-document boilerplate fraction: share of a doc's distinct
    * 5-grams that are corpus-frequent — the gate signal for dropping
    * template-heavy documents. The frequent set joins back as a plain
    * co-partitioned shuffle join on the gram key: its cardinality is
    * DATA-SIZED (on a boilerplate-heavy corpus nearly every gram
    * qualifies — the sf1 adversarial sweep measured a forced
    * broadcast 17.5x at 10x docs vs 6x for the shuffle join), so the
    * compile-time broadcast hint is exactly the driver-OOM shape the
    * 100 TB contract bans; AQE still converts to broadcast at runtime
    * when the measured size allows. */
  def qBoilerplateFrac(spark: SparkSession, dir: String): DataFrame = {
    val g = docGrams(spark, dir)
    val freq = g.groupBy("gram")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= BP_MIN_DF)
      .select(col("gram"), lit(1L).as("__f"))
    g.join(freq, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__f"), lit(0L))).as("n_frequent"))
      .withColumn("frequent_frac",
        expr(graft.functions.Exact.rate6("n_frequent", "n_grams")))
  }

  /** Per-document novelty: share of the doc's distinct char-5-grams
    * seen in NO other document (corpus document frequency == 1) — the
    * inverse signal of the boilerplate fraction, and the cheap "is
    * this content new to the corpus" score a curation pass weights
    * toward. Rides the staged shingle table (the stored-at-ingest
    * index), so the heavy per-doc gram projection is not re-derived;
    * the df aggregate and the join-back share the gram-key
    * partitioning (one co-partitioned shuffle join, no broadcast —
    * the gram table is data-sized). Grams are per-doc distinct, so a
    * plain count IS the document frequency. */
  def qNovelty(spark: SparkSession, dir: String): DataFrame =
    noveltyFrom(graft.dedup.Dedup.stagedGrams5(spark, dir))

  /** Novelty over any (doc_id, gs: array<string>) distinct-gram frame. */
  def noveltyFrom(grams: DataFrame): DataFrame = {
    val g = grams.select(col("doc_id"), explode(col("gs")).as("g"))
    val gdf = g.groupBy("g").agg(count(lit(1)).as("df"))
    g.join(gdf, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_frac",
        expr(graft.functions.Exact.rate6("n_novel", "n_grams")))
  }

  /** Bigram-LM document score: mean log2 MLE conditional probability
    * c(w1 w2) / c(w1 ·) over the document's bigrams — the next step up
    * from the unigram scorer, sensitive to word ORDER (shuffled text
    * scores low even when its unigram profile is corpus-typical). Two
    * word-count shuffles build the LM; scoring is two equi-joins on
    * the bigram / head-word keys — co-partitioned, no broadcast, so it
    * holds when the LM itself is huge. */
  def qBigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    // the bigram explode feeds TWO plan branches (type counts, scoring
    // join) instead of the former three: the head totals c(w1 .) are
    // sum(cb) over the (vocab^2-bounded) bigram-TYPE table, not a third
    // re-derivation of the corpus explode — one fewer corpus-sized
    // split+explode+shuffle, identical BIGINT counts (a head's token
    // count IS the sum of its types' counts). The scan stays spread so
    // each remaining derivation parallelizes (r18 finding).
    val bg = graft.Tables.docsSpread(spark, dir)
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> named_struct(" +
          "'w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))")).as("e"))
      .select(col("doc_id"), col("e.w1").as("w1"), col("e.w2").as("w2"))
    val bgCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val headCounts = bgCounts.groupBy("w1").agg(sum("cb").as("cu"))
    bg.join(bgCounts, Seq("w1", "w2")).join(headCounts, "w1")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log2(col("cb").cast("double") / col("cu"))), 6).as("avg_log2p"))
  }

  /** Interpolated bigram/unigram LM score — the smoothing step real
    * LM-based quality gates need (pure-MLE bigram scoring assigns the
    * corpus-frequency of the exact bigram; Jelinek-Mercer
    * interpolation 0.5*p(w2|w1) + 0.5*p(w2) keeps rare-but-plausible
    * continuations from cratering the score). Same co-partitioned
    * join shape as the bigram scorer plus one unigram join; the
    * 1-row token total broadcasts. */
  def qInterpLogprob(spark: SparkSession, dir: String): DataFrame = {
    // three corpus-sized plan branches instead of the former five: the
    // token total is sum(c2) over the vocab (not a second word explode)
    // and the head totals c(w1 .) are sum(cb) over the bigram-TYPE
    // table (not a second bigram explode) — identical BIGINT counts,
    // two fewer corpus-sized split+explode+shuffles. Scan stays spread.
    val docs = graft.Tables.docsSpread(spark, dir)
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
    val vocab = words.groupBy("word").agg(count(lit(1)).as("c2"))
    val tot = vocab.agg(sum("c2").cast("double").as("__t"))
    val bg = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> named_struct(" +
          "'w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))")).as("e"))
      .select(col("doc_id"), col("e.w1").as("w1"), col("e.w2").as("w2"))
    val bgCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val headCounts = bgCounts.groupBy("w1").agg(sum("cb").as("cu"))
    bg.join(bgCounts, Seq("w1", "w2")).join(headCounts, "w1")
      .join(vocab.withColumnRenamed("word", "w2"), "w2")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log2(
          lit(0.5) * (col("cb").cast("double") / col("cu"))
            + lit(0.5) * (col("c2").cast("double") / col("__t")))), 6).as("avg_log2p"))
  }

  /** Interpolated Kneser-Ney bigram score — the published standard
    * smoothing for n-gram LMs (Kneser & Ney 1995; Chen & Goodman's
    * interpolated form): absolute discount D = 0.75 off every seen
    * bigram, the freed mass re-distributed through the CONTINUATION
    * unigram P_cont(w2) = (distinct left-contexts of w2) / (distinct
    * bigram types) — "how many contexts does this word complete", not
    * "how often does it occur", which is what separates KN from the
    * Jelinek-Mercer scorer above (a word frequent only inside one
    * collocation gets a LOW continuation probability). Per doc: mean
    * log2 P_KN over its bigrams, the LM-family report shape.
    *
    * P_KN(w2|w1) = (c(w1 w2) - D)/c(w1 .)
    *             + (D * N1+(w1 .)/c(w1 .)) * P_cont(w2)
    * (c >= 1 > D on observed bigrams, so the max(.,0) clamp is moot.)
    *
    * Scale shape: the same co-partitioned count/type joins as the MLE
    * scorer — bigram counts, head counts, per-head continuation-type
    * counts and per-word left-context counts are all word-keyed
    * aggregates; only the 1-row type total broadcasts. All divisions
    * mirrored operation-for-operation in the oracle. */
  def qKnLogprob(spark: SparkSession, dir: String): DataFrame =
    // two corpus-sized plan branches (type counts, scoring join): every
    // KN statistic — head totals, continuation-type counts, left-context
    // counts, the type total — is an aggregate OF the bigram-type table,
    // so deriving them from bgCounts instead of four more corpus
    // explodes drops four corpus-sized split+explode+shuffles with
    // identical BIGINT counts. Scan stays spread (r18 finding).
    knLogprobOf(graft.Tables.docsSpread(spark, dir))

  /** The KN scorer over any (doc_id, text) frame — split out so the
    * spec can pin a hand-computed value on a crafted corpus. */
  def knLogprobOf(docs: DataFrame): DataFrame = {
    val bg = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> named_struct(" +
          "'w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))")).as("e"))
      .select(col("doc_id"), col("e.w1").as("w1"), col("e.w2").as("w2"))
    val bgCounts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    // one row of bgCounts per bigram TYPE: head token totals and
    // distinct-continuation counts are one aggregate of it, left-context
    // counts another, the type total a third — no corpus re-explode
    val heads = bgCounts.groupBy("w1")
      .agg(sum("cb").as("cu"), count(lit(1)).as("n1"))
    val cont = bgCounts.groupBy("w2").agg(count(lit(1)).as("ct"))
    val tt = bgCounts.agg(count(lit(1)).cast("double").as("__tt"))
    bg.join(bgCounts, Seq("w1", "w2")).join(heads, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(tt))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log2(
          (col("cb").cast("double") - lit(0.75)) / col("cu")
            + lit(0.75) * col("n1").cast("double") / col("cu")
              * (col("ct").cast("double") / col("__tt")))), 6).as("avg_log2p"))
  }

  /** DSIR-style importance weight (data selection via importance
    * resampling, from the public DSIR paper): per-document mean log2
    * likelihood ratio of a TARGET-domain unigram LM against the
    * raw-corpus unigram LM — positive means "reads like the target
    * domain", and resampling raw data by this weight tilts a corpus
    * toward the target. The labeled `lang = 'en'` slice stands in for
    * the target domain here (any slice predicate works the same way).
    * Add-1 smoothing over the shared raw vocabulary floors words the
    * target slice never saw; every scored word is in the raw vocab by
    * construction, so only the target side needs the floor.
    *
    * Scale shape: one raw word-count shuffle, one target-slice
    * word-count shuffle (both map-side combined on the word key), a
    * left join between the two vocab frames (co-partitioned on word),
    * and the scorer re-joins the exploded corpus to that vocab on the
    * word key — again co-partitioned, nothing data-sized broadcast.
    * The three scalar totals ride one broadcast 1-row aggregate.
    * Holds when the vocabulary itself is huge. */
  def qDsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val words = t(spark, dir, "documents")
      .select(col("doc_id"), (col("lang") === "en").as("is_target"),
        explode(split(col("text"), " ")).as("word"))
    val raw = words.groupBy("word").agg(count(lit(1)).as("cr"))
    val tgt = words.filter(col("is_target")).groupBy("word")
      .agg(count(lit(1)).as("ct"))
    val vocab = raw.join(tgt, Seq("word"), "left")
      .select(col("word"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val totals = vocab.agg(
      sum("cr").cast("double").as("__tr"),
      sum("ct").cast("double").as("__tt"),
      count(lit(1)).cast("double").as("__v"))
    words.join(vocab, "word").crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        round(avg(log2(
          ((col("ct").cast("double") + 1.0) / (col("__tt") + col("__v"))) /
            ((col("cr").cast("double") + 1.0) / (col("__tr") + col("__v"))))), 6)
          .as("avg_log2_ratio"))
  }

  /** Curriculum quality buckets: documents quartiled by their
    * unigram-LM score — the binning step before quality-ordered
    * (curriculum) training. NO global sort / ntile (a single-partition
    * bottleneck at 100 TB) and no single-buffer percentile: the
    * bounded-state exact-quantile engine (graft.relational.Quantiles)
    * computes the three cutoffs, which land as literals, and each
    * doc's bucket is three codegen'd comparisons. */
  def qCurriculum(spark: SparkSession, dir: String): DataFrame = {
    // the per-doc scores are consumed by EVERY quantile-refinement
    // pass plus the final bucketize — uncached, each pass re-derived
    // the whole unigram-LM chain (explode + vocab join + per-doc agg;
    // profiled as 3 repeated ~0.5 s job blocks). The cache is a
    // doc-count-sized 2-column frame, held only inside the query and
    // released before returning (the recall-curve §5 reuse
    // discipline); the ≤4-row result leaves as a literal frame so the
    // cache does not leak through the returned plan.
    val scores = qUnigramLogprob(spark, dir)
      .select(col("doc_id"), col("avg_log2p")).cache()
    try {
      val cs = graft.relational.Quantiles.exact(scores, "avg_log2p", Seq(0.25, 0.5, 0.75))
      val out = scores
        .withColumn("bucket",
          (when(col("avg_log2p") >= lit(cs(0.25)), 1).otherwise(0)
            + when(col("avg_log2p") >= lit(cs(0.5)), 1).otherwise(0)
            + when(col("avg_log2p") >= lit(cs(0.75)), 1).otherwise(0)).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(min("avg_log2p"), 6).as("min_score"),
          round(max("avg_log2p"), 6).as("max_score"))
      val rows = out.collect()
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), out.schema)
    } finally { scores.unpersist(); () }
  }

  /** One-row dataset card: the headline numbers a corpus release ships
    * with (doc/source/lang counts, token volume, exact-duplicate rate).
    * One multi-aggregate pass; the distinct aggregates expand to the
    * standard two-phase plan, everything partial-aggregated. */
  def qDatasetCard(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"),
        countDistinct("lang").as("n_langs"),
        sum(size(col("ws"))).cast("long").as("n_words"),
        countDistinct(graft.dedup.Dedup.contentHash(col("text"))).as("n_unique"))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("n_words"),
        expr(graft.functions.Exact.rate6("n_words", "n_docs")).as("avg_doc_words"),
        expr(graft.functions.Exact.rate6("n_docs - n_unique", "n_docs"))
          .as("exact_dup_rate"))

  /** Corpus-level duplicated-8-gram mass — the memorization-risk
    * statistic from the public train-data-dedup literature: of all
    * word-8-gram OCCURRENCES in the (Unicode-normalized) corpus, what
    * fraction belongs to a gram that appears more than once? Exact
    * dup rate counts whole-document copies; THIS number also counts
    * the repeated passages inside otherwise-unique documents — the
    * mass a span-level dedup pass could reclaim and the one a model
    * can memorize verbatim. Grams travel as md5 keys (compact shuffle
    * rows), one gram-keyed partial-agg groupBy + one scalar rollup —
    * the same two-stage shape at any corpus size. */
  def qDupGramMass(spark: SparkSession, dir: String): DataFrame =
    // NFC-normalize + 8-gram md5 explode is the heaviest per-doc
    // projection in the family — spread the scan across the cores
    graft.Tables.docsSpread(spark, dir)
      .withColumn("ws",
        split(expr(graft.text.TextAnalysis.normalizeUnicodeSparkSql("text")), " "))
      .filter(size(col("ws")) >= 8)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 7), " +
          "i -> md5(array_join(slice(ws, i, 8), ' ')))")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n_occ"))
      .agg(count(lit(1)).as("n_distinct_grams"),
        sum("n_occ").as("n_occurrences"),
        sum(when(col("n_occ") >= 2, col("n_occ")).otherwise(0L)).as("dup_occurrences"),
        max("n_occ").as("max_occ"))
      .withColumn("dup_frac",
        expr(graft.functions.Exact.rate6("dup_occurrences", "n_occurrences")))

  /** Per-source exact-duplicate rate — the stratified sibling of the
    * dataset card's global rate: the first question when a dup rate
    * spikes is WHICH source started double-crawling. One
    * partial-aggregated shuffle on source. */
  def qDupRateBySource(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(graft.dedup.Dedup.contentHash(col("text"))).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        expr(graft.functions.Exact.rate6("n_docs - n_unique", "n_docs"))
          .as("dup_rate"))

  /** Per-source composition report: what a mix dashboard shows after
    * every pipeline stage. One partial-aggregated shuffle on source. */
  def qCorpusReport(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_words"),
        sum(col("n_chars")).cast("long").as("__sc"),
        countDistinct("lang").as("n_langs"))
      .select(col("source"), col("n_docs"), col("n_words"),
        expr(graft.functions.Exact.rate6("__sc", "n_docs")).as("avg_chars"),
        col("n_langs"))

  /** Incremental corpus-statistics maintenance — the agg_incremental
    * pattern on the INGEST path: the per-source release stats a
    * standing corpus publishes (doc count, word mass, estimated
    * subtoken mass, char mass — all mergeable integer sums) kept as a
    * tiny persisted partial-agg table and merged with each day's
    * BATCH partials, never rescanning the standing data. The split is
    * simulated by doc_id % 10 (the incremental-dedup convention); the
    * oracle recomputes over the FULL corpus, proving merged ==
    * recomputed. Every aggregate is an INT-EXACT sum (§4 audit class),
    * so the merge is order-free and host-invariant by construction.
    * At 100 TB each night costs one scan of the batch only. */
  def qStatsIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
    def partial(df: DataFrame) = df.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(size(col("ws")).cast("long")).as("w"),
      sum(expr(
        "aggregate(ws, CAST(0 AS BIGINT), (a, x) -> a + ((length(x) + 3) div 4))"))
        .as("st"),
      sum("n_chars").as("ch"))
    val standing = partial(d.filter(col("doc_id") % 10 =!= 0))
    val batch = partial(d.filter(col("doc_id") % 10 === 0))
    standing.unionByName(batch)
      .groupBy("source")
      .agg(sum("n").as("n_docs"), sum("w").as("n_words"),
        sum("st").as("n_subtokens"), sum("ch").as("n_chars"))
  }

  /** Per-language adaptive quality thresholds: the median TTR of each
    * language's documents becomes that language's gate (fixed global
    * thresholds misfire across languages — the standard fix is
    * per-stratum quantile cutoffs). The per-lang median comes from
    * the bounded-state exact-quantile engine (grouped by lang — a
    * statically bounded stratum count), joins back as a tiny
    * broadcast frame, then one below-threshold count pass. */
  def qLangThresholds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("lang"),
        (size(array_distinct(col("ws"))).cast("double") / size(col("ws"))).as("ttr"))
    val med = graft.relational.Quantiles.grouped(d, "lang", "ttr", Seq(0.5))
      .toSeq.map { case (l, m) => (l, m(0.5)) }.toDF("lang", "med")
    d.join(broadcast(med), "lang")
      .groupBy("lang")
      .agg(round(min("med"), 6).as("median_ttr"),
        count(lit(1)).as("n_docs"),
        sum(when(col("ttr") < col("med"), 1L).otherwise(0L)).as("n_below"))
  }

  /** Per-source distribution drift: KL(p_source || p_corpus) in bits
    * over the word unigram distributions — the composition-monitoring
    * number that flags a source whose text stops looking like the
    * corpus (scraper drift, encoding breakage) before it poisons the
    * mix. Plan: (source, word) counts join corpus word counts on the
    * word key — co-partitioned, no broadcast needed even for huge
    * vocabularies; the per-source totals and the 1-row grand total
    * broadcast back. */
  def qSourceKl(spark: SparkSession, dir: String): DataFrame = {
    val w = t(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val sw = w.groupBy("source", "word").agg(count(lit(1)).as("csw"))
    val cw = w.groupBy("word").agg(count(lit(1)).as("cw"))
    val totals = sw.groupBy("source").agg(sum("csw").as("ns"))
    val grand = cw.agg(sum("cw").cast("double").as("__n"))
    sw.join(cw, "word")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(grand))
      .withColumn("ps", col("csw").cast("double") / col("ns"))
      .groupBy("source")
      .agg(min("ns").as("n_words"),
        round(sum(col("ps") * log2(col("ps") / (col("cw").cast("double") / col("__n")))), 6)
          .as("kl_bits"))
  }

  /** Per-source distinctive keywords by smoothed log-odds: the terms a
    * source over-uses relative to the whole corpus — the monitoring
    * complement of the KL drift number (KL says "source 7 drifted",
    * the keywords say "it's suddenly all crypto spam"). Plan: one
    * (source, word) count + one corpus word count, joined
    * CO-PARTITIONED on the word key (never broadcast — the vocabulary
    * is data-sized at 100 TB); the tiny per-source/vocab totals
    * broadcast back; top-5 per source via a rank window over the
    * per-source keyword rows (each source's candidate set is already
    * aggregated — the window never sees raw tokens). */
  def qSourceKeywords(spark: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = t(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val sw = w.groupBy("source", "word").agg(count(lit(1)).as("csw"))
    val cw = w.groupBy("word").agg(count(lit(1)).as("cw"))
    val totals = sw.groupBy("source").agg(sum("csw").as("ns"))
    val grand = cw.agg(sum("cw").cast("double").as("__n"),
      count(lit(1)).cast("double").as("__v"))
    val scored = sw.join(cw, "word")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(grand))
      .withColumn("score",
        log((col("csw").cast("double") + 1.0) / (col("ns").cast("double") + col("__v")))
          - log((col("cw").cast("double") + 1.0) / (col("__n") + col("__v"))))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("score").desc, col("word").asc)))
      .filter(col("rank") <= topK)
      .select(col("source"), col("rank"), col("word"),
        round(col("score"), 6).as("log_odds"))
  }

  /** One-row Zipf/hapax profile of the corpus vocabulary: type/token
    * counts, hapax share, the head's mass, and the fitted log-log
    * Zipf slope over the top-100 ranks. The full-vocab numbers come
    * from one partial-aggregated pass; the ranked head is a
    * TakeOrderedAndProject (never a global sort) and its 100-row
    * window + regression run in a single bounded partition. */
  def qZipf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val overall = v.agg(
      count(lit(1)).as("n_types"),
      sum("c").as("n_tokens"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    val top = v.orderBy(col("c").desc, col("word").asc).limit(100)
    // rank over the post-limit 100 rows: the unpartitioned window is
    // bounded by the limit, not by corpus size
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("word").asc)))
    val head = ranked.agg(
      round(regr_slope(log2(col("c")), log2(col("rank"))), 6).as("zipf_slope"),
      sum("c").as("head_tokens"))
    overall.crossJoin(broadcast(head))
      .select(col("n_types"), col("n_tokens"),
        expr(graft.functions.Exact.rate6("n_hapax", "n_types")).as("hapax_frac"),
        expr(graft.functions.Exact.rate6("head_tokens", "n_tokens")).as("head_share"),
        col("zipf_slope"))
  }

  /** PMI word-association table over the BOUNDED top-50 vocabulary
    * (the standard collocation statistic, from the public NLP
    * literature): for every top-word pair co-occurring in >= 5 docs,
    * pmi = ln(n_ab * N / (n_a * n_b)) on document frequencies.
    * Restricting to the corpus head is what makes the pair space
    * tractable at any scale — the per-doc self-join fans out at most
    * 50 choose 2 regardless of corpus size, where an open-vocabulary
    * pair explosion is quadratic in document length. All counts are
    * integers; the single log runs on identical doubles (the BM25/LM
    * discipline), rounded 6. */
  def qPmiPairs(spark: SparkSession, dir: String,
                vocab: Int = 50, minDocs: Long = 5): DataFrame = {
    // NOT spread: the pair self-join (post-shuffle, already parallel)
    // dominates this query, not the word explode — the docsSpread
    // variant measured 0.90 s vs 0.75 s plain (solo min-of-5, sf0.1)
    val words = t(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))
    val top = words.groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word").asc).limit(vocab)
      .select("word")
    val wt = words.join(broadcast(top), "word").select("doc_id", "word")
    val na = wt.groupBy("word").agg(count(lit(1)).as("n"))
    val nDocs = t(spark, dir, "documents").select(countDistinct("doc_id").as("n_docs"))
    val ab = wt.as("x").join(wt.as("y"),
        col("x.doc_id") === col("y.doc_id") && col("x.word") < col("y.word"))
      .groupBy(col("x.word").as("wa"), col("y.word").as("wb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minDocs)
    ab.join(broadcast(na.select(col("word").as("wa"), col("n").as("n_a"))), "wa")
      .join(broadcast(na.select(col("word").as("wb"), col("n").as("n_b"))), "wb")
      .crossJoin(broadcast(nDocs))
      .select(col("wa"), col("wb"), col("n_ab"),
        round(log(col("n_ab").cast("double") * col("n_docs") / (col("n_a") * col("n_b"))), 6)
          .as("pmi"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_pmi_pairs" -> ((s: SparkSession, d: String) => qPmiPairs(s, d)),
    "pipeline_source_kl" -> (qSourceKl _),
    "text_source_keywords" -> ((s: SparkSession, d: String) => qSourceKeywords(s, d)),
    "text_zipf" -> (qZipf _),
    "text_vocab_topk" -> (qVocabTopK _),
    "text_unigram_logprob" -> (qUnigramLogprob _),
    "pipeline_dsir_weights" -> (qDsirWeights _),
    "text_interp_logprob" -> (qInterpLogprob _),
    "pipeline_corpus_report" -> (qCorpusReport _),
    "pipeline_stats_incremental" -> (qStatsIncremental _),
    "pipeline_dup_rate_by_source" -> (qDupRateBySource _),
    "text_dup_gram_mass" -> (qDupGramMass _),
    "text_lang_thresholds" -> (qLangThresholds _),
    "pipeline_curriculum" -> (qCurriculum _),
    "pipeline_dataset_card" -> (qDatasetCard _),
    "text_boilerplate" -> (qBoilerplate _),
    "text_novelty" -> (qNovelty _),
    "text_boilerplate_frac" -> (qBoilerplateFrac _),
    "text_bigram_logprob" -> (qBigramLogprob _),
    "text_kn_logprob" -> (qKnLogprob _))

  /** "distinct-content complement" numerator shared by the dup-rate
    * oracles (hoisted: nested escaped quotes inside interpolation
    * blocks do not parse). */
  private val dupNumSql: String =
    "count(*) - count(DISTINCT " + graft.dedup.Dedup.contentHashSql("text") + ")"

  val oracleSql: Map[String, String] = Map(
    "text_pmi_pairs" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
        |  FROM documents),
        |top AS (SELECT word FROM (
        |  SELECT word, count(*) AS c FROM w GROUP BY word
        |  ORDER BY c DESC, word ASC LIMIT 50)),
        |wt AS (SELECT doc_id, word FROM w JOIN top USING (word)),
        |na AS (SELECT word, count(*) AS n FROM wt GROUP BY word),
        |nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
        |ab AS (
        |  SELECT x.word AS wa, y.word AS wb, count(*) AS n_ab
        |  FROM wt x JOIN wt y ON x.doc_id = y.doc_id AND x.word < y.word
        |  GROUP BY x.word, y.word
        |  HAVING count(*) >= 5)
        |SELECT wa, wb, n_ab,
        |  round(ln(CAST(n_ab AS DOUBLE) * n_docs / (a.n * b.n)), 6) AS pmi
        |FROM ab JOIN na a ON a.word = ab.wa JOIN na b ON b.word = ab.wb
        |CROSS JOIN nn""".stripMargin,
    "pipeline_source_kl" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |sw AS (SELECT source, word, count(*) AS csw FROM w GROUP BY source, word),
        |cw AS (SELECT word, count(*) AS cw FROM w GROUP BY word),
        |t AS (SELECT source, sum(csw) AS ns FROM sw GROUP BY source),
        |g AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM cw)
        |SELECT source, CAST(min(ns) AS BIGINT) AS n_words,
        |  round(sum((CAST(csw AS DOUBLE) / ns)
        |    * log2((CAST(csw AS DOUBLE) / ns) / (CAST(cw AS DOUBLE) / n))), 6) AS kl_bits
        |FROM sw JOIN cw USING (word) JOIN t USING (source) CROSS JOIN g
        |GROUP BY source""".stripMargin,
    "text_novelty" ->
      s"""WITH gs AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(text) - 3), i -> substr(text, CAST(i AS INT), 5)))) AS g
        |  FROM (SELECT doc_id, ${graft.dedup.Dedup.NT} AS text FROM documents)),
        |d AS (SELECT g, count(*) AS df FROM gs GROUP BY g)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  ${graft.functions.Exact.duck6(
               "sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)", "count(*)")} AS novel_frac
        |FROM gs JOIN d USING (g) GROUP BY doc_id""".stripMargin,
    "text_source_keywords" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |sw AS (SELECT source, word, count(*) AS csw FROM w GROUP BY source, word),
        |cw AS (SELECT word, count(*) AS cw FROM w GROUP BY word),
        |t AS (SELECT source, sum(csw) AS ns FROM sw GROUP BY source),
        |g AS (SELECT CAST(sum(cw) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM cw),
        |scored AS (
        |  SELECT source, word,
        |    ln((CAST(csw AS DOUBLE) + 1.0) / (CAST(ns AS DOUBLE) + g.v))
        |      - ln((CAST(cw AS DOUBLE) + 1.0) / (g.n + g.v)) AS score
        |  FROM sw JOIN cw USING (word) JOIN t USING (source) CROSS JOIN g),
        |ranked AS (
        |  SELECT source, word, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, word ASC) AS rank
        |  FROM scored)
        |SELECT source, CAST(rank AS INT) AS rank, word,
        |  round(score, 6) AS log_odds
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "text_zipf" ->
      s"""WITH v AS (SELECT word, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word),
        |o AS (SELECT count(*) AS n_types, sum(c) AS n_tokens,
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax FROM v),
        |top AS (SELECT c, row_number() OVER (ORDER BY c DESC, word ASC) AS rank
        |  FROM v ORDER BY c DESC, word ASC LIMIT 100),
        |h AS (SELECT round(regr_slope(log2(c), log2(rank)), 6) AS zipf_slope,
        |    sum(c) AS head_tokens FROM top)
        |SELECT n_types, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  ${graft.functions.Exact.duck6("n_hapax", "n_types")} AS hapax_frac,
        |  ${graft.functions.Exact.duck6("head_tokens", "n_tokens")} AS head_share,
        |  zipf_slope
        |FROM o CROSS JOIN h""".stripMargin,
    "text_vocab_topk" ->
      s"""SELECT word, count(*) AS n_occurrences,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |GROUP BY word
         |ORDER BY n_occurrences DESC, word ASC
         |LIMIT $TOPK""".stripMargin,
    "pipeline_dsir_weights" ->
      """WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |raw AS (SELECT word, count(*) AS cr FROM w GROUP BY word),
        |tgt AS (SELECT word, count(*) AS ct FROM w WHERE lang = 'en' GROUP BY word),
        |vocab AS (SELECT word, cr, coalesce(ct, 0) AS ct
        |  FROM raw LEFT JOIN tgt USING (word)),
        |g AS (SELECT CAST(sum(cr) AS DOUBLE) AS tr, CAST(sum(ct) AS DOUBLE) AS tt,
        |  CAST(count(*) AS DOUBLE) AS nv FROM vocab)
        |SELECT doc_id, count(*) AS n_words,
        |  round(avg(log2(((CAST(ct AS DOUBLE) + 1.0) / (tt + nv))
        |    / ((CAST(cr AS DOUBLE) + 1.0) / (tr + nv)))), 6) AS avg_log2_ratio
        |FROM w JOIN vocab USING (word) CROSS JOIN g
        |GROUP BY doc_id""".stripMargin,
    "text_unigram_logprob" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM w),
        |v AS (SELECT word, count(*) AS c FROM w GROUP BY word)
        |SELECT doc_id, count(*) AS n_words,
        |  round(avg(log2(c / t)), 6) AS avg_log2p
        |FROM w JOIN v USING (word) CROSS JOIN t
        |GROUP BY doc_id""".stripMargin,
    "text_dup_gram_mass" ->
      s"""WITH d AS (SELECT string_split(
         |    ${graft.text.TextAnalysis.normalizeUnicodeSql("text")}, ' ') AS ws
         |  FROM documents),
         |gr AS (SELECT unnest(list_transform(range(1, len(ws) - 6),
         |    i -> md5(array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')))) AS g
         |  FROM d WHERE len(ws) >= 8),
         |occ AS (SELECT g, count(*) AS n FROM gr GROUP BY g)
         |SELECT count(*) AS n_distinct_grams,
         |  CAST(sum(n) AS BIGINT) AS n_occurrences,
         |  CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS dup_occurrences,
         |  max(n) AS max_occ,
         |  ${graft.functions.Exact.duck6(
                "sum(CASE WHEN n >= 2 THEN n ELSE 0 END)", "sum(n)")} AS dup_frac
         |FROM occ""".stripMargin,
    "pipeline_dup_rate_by_source" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(count(DISTINCT ${graft.dedup.Dedup.contentHashSql("text")}) AS BIGINT) AS n_unique,
         |  ${graft.functions.Exact.duck6(
                dupNumSql, "count(*)")} AS dup_rate
         |FROM documents GROUP BY source""".stripMargin,
    "pipeline_stats_incremental" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
        |  CAST(sum(list_sum(list_transform(string_split(text, ' '),
        |    w -> (len(w) + 3) // 4))) AS BIGINT) AS n_subtokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY source""".stripMargin,
    "pipeline_corpus_report" ->
      s"""SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
        |  ${graft.functions.Exact.duck6("sum(n_chars)", "count(*)")} AS avg_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents GROUP BY source""".stripMargin,
    "pipeline_dataset_card" ->
      s"""SELECT count(*) AS n_docs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
         |  ${graft.functions.Exact.duck6(
                "sum(len(string_split(text, ' ')))", "count(*)")} AS avg_doc_words,
         |  ${graft.functions.Exact.duck6(
                dupNumSql, "count(*)")}
         |    AS exact_dup_rate
         |FROM documents""".stripMargin,
    "pipeline_curriculum" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM w),
        |v AS (SELECT word, count(*) AS c FROM w GROUP BY word),
        |sc AS (SELECT doc_id, round(avg(log2(c / t)), 6) AS s
        |       FROM w JOIN v USING (word) CROSS JOIN t GROUP BY doc_id),
        |cu AS (SELECT quantile_cont(s, [0.25, 0.5, 0.75]) AS cs FROM sc)
        |SELECT CAST((CASE WHEN s >= cs[1] THEN 1 ELSE 0 END)
        |     + (CASE WHEN s >= cs[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN s >= cs[3] THEN 1 ELSE 0 END) AS INT) AS bucket,
        |  count(*) AS n_docs,
        |  round(min(s), 6) AS min_score,
        |  round(max(s), 6) AS max_score
        |FROM sc CROSS JOIN cu GROUP BY 1""".stripMargin,
    "text_boilerplate" ->
      s"""WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(ws) - ${BP_N - 2}),
         |    i -> array_to_string(ws[CAST(i AS INT):CAST(i + ${BP_N - 1} AS INT)], ' ')))) AS gram
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |  WHERE len(ws) >= $BP_N)
         |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= $BP_MIN_DF""".stripMargin,
    "text_boilerplate_frac" ->
      s"""WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(ws) - ${BP_N - 2}),
         |    i -> array_to_string(ws[CAST(i AS INT):CAST(i + ${BP_N - 1} AS INT)], ' ')))) AS gram
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |  WHERE len(ws) >= $BP_N),
         |f AS (SELECT gram FROM g GROUP BY gram
         |      HAVING count(DISTINCT doc_id) >= $BP_MIN_DF)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN f.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_frequent,
         |  ${graft.functions.Exact.duck6(
                "sum(CASE WHEN f.gram IS NOT NULL THEN 1 ELSE 0 END)", "count(*)")} AS frequent_frac
         |FROM g LEFT JOIN f ON g.gram = f.gram
         |GROUP BY doc_id""".stripMargin,
    "text_interp_logprob" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |v AS (SELECT word AS w2, count(*) AS c2 FROM w GROUP BY word),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM w),
        |bg AS (SELECT doc_id, e.w1, e.w2, e.bg FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |      i -> {'w1': ws[CAST(i AS INT)], 'w2': ws[CAST(i + 1 AS INT)],
        |            'bg': concat(ws[CAST(i AS INT)], ' ', ws[CAST(i + 1 AS INT)])})) AS e
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |    WHERE len(ws) >= 2)),
        |cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
        |cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(log2(0.5 * (CAST(cb.cb AS DOUBLE) / cu.cu)
        |    + 0.5 * (CAST(c2 AS DOUBLE) / t))), 6) AS avg_log2p
        |FROM bg JOIN cb USING (bg) JOIN cu USING (w1) JOIN v USING (w2) CROSS JOIN t
        |GROUP BY doc_id""".stripMargin,
    "text_kn_logprob" ->
      """WITH bg AS (SELECT doc_id, e.w1, e.w2, e.bg FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |      i -> {'w1': ws[CAST(i AS INT)], 'w2': ws[CAST(i + 1 AS INT)],
        |            'bg': concat(ws[CAST(i AS INT)], ' ', ws[CAST(i + 1 AS INT)])})) AS e
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |    WHERE len(ws) >= 2)),
        |cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
        |cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1),
        |ty AS (SELECT DISTINCT w1, w2 FROM bg),
        |n1 AS (SELECT w1, count(*) AS n1 FROM ty GROUP BY w1),
        |ct AS (SELECT w2, count(*) AS ct FROM ty GROUP BY w2),
        |tt AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM ty)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(log2(
        |    (CAST(cb.cb AS DOUBLE) - 0.75) / cu.cu
        |    + 0.75 * CAST(n1.n1 AS DOUBLE) / cu.cu
        |      * (CAST(ct.ct AS DOUBLE) / tt))), 6) AS avg_log2p
        |FROM bg JOIN cb USING (bg) JOIN cu USING (w1) JOIN n1 USING (w1)
        |  JOIN ct USING (w2) CROSS JOIN tt
        |GROUP BY doc_id""".stripMargin,
    "text_bigram_logprob" ->
      """WITH bg AS (SELECT doc_id, e.w1, e.bg FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |      i -> {'w1': ws[CAST(i AS INT)],
        |            'bg': concat(ws[CAST(i AS INT)], ' ', ws[CAST(i + 1 AS INT)])})) AS e
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |    WHERE len(ws) >= 2)),
        |cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
        |cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(log2(CAST(cb.cb AS DOUBLE) / cu.cu)), 6) AS avg_log2p
        |FROM bg JOIN cb USING (bg) JOIN cu USING (w1)
        |GROUP BY doc_id""".stripMargin,
    "text_lang_thresholds" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ttr
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)),
        |m AS (SELECT lang, quantile_cont(ttr, 0.5) AS med FROM d GROUP BY lang)
        |SELECT lang, round(min(med), 6) AS median_ttr, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN ttr < med THEN 1 ELSE 0 END) AS BIGINT) AS n_below
        |FROM d JOIN m USING (lang) GROUP BY lang""".stripMargin)
}
