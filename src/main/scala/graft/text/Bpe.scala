package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** BPE tokenizer merge induction — the published byte-pair-encoding
  * algorithm (Sennrich, Haddow & Birch 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") run for the first
  * `ROUNDS` merges over the corpus vocabulary: the tokenizer-training
  * step a training-data pipeline performs after cleaning and before
  * token counting.
  *
  * Algorithm, exactly as published: start from the character sequence
  * of every vocabulary word (weighted by its corpus occurrence count),
  * and per round (1) count every adjacent symbol pair, (2) pick the
  * most frequent pair (ties broken lexicographically so the trajectory
  * is a total order), (3) merge every occurrence of that pair into one
  * symbol with a single greedy left-to-right scan per word.
  *
  * Scale shape: pair counting is ONE map-side-combined shuffle per
  * round over the VOCABULARY (words pre-aggregated to (word, count) —
  * the corpus is scanned once, ever); the per-round argmax is a 1-row
  * driver literal (the lloyd literal-frame pattern, K-bounded); the
  * merge itself is a per-row codegen HOF fold over the symbol list.
  * At 100 TB the vocabulary aggregate is the only corpus-sized pass.
  *
  * Determinism: counts are exact integers, the argmax is a total order
  * (n DESC, pair ASC), and the greedy merge is an explicit fold — NOT
  * a string replace(), whose resume-after-replacement semantics skip
  * abutting occurrences (e.g. "t h t h" under merge (t,h)) and would
  * diverge from the published greedy scan. A merged symbol is tagged
  * with a sentinel char (U+0001, impossible in the [a-z] corpus
  * alphabet) for the rest of its pass so it cannot re-merge, then the
  * tags strip. The DuckDB oracle mirrors the fold with list_reduce.
  */
object Bpe extends graft.Registry {

  val ROUNDS = 5

  /** The (word, count) vocabulary with each word's initial
    * space-joined character-symbol representation. */
  private[text] def vocabOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(col("w"), trim(regexp_replace(col("w"), "(.)", "$1 ")).as("rep"), col("c"))

  /** Adjacent-symbol pair counts over a rep frame. Single-symbol reps
    * (fully merged or 1-char words like "a") carry no pairs and must
    * filter out BEFORE the transform: sequence(1, 0) is Spark's
    * DESCENDING [1, 0] and element_at(sym, 0) throws. */
  private[text] def pairCounts(reps: DataFrame): DataFrame =
    reps.filter(size(split(col("rep"), " ")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(split(rep, ' ')) - 1),
          |  i -> concat(element_at(split(rep, ' '), i), ' ',
          |              element_at(split(rep, ' '), i + 1)))""".stripMargin))
        .as("pair"), col("c"))
      .groupBy("pair").agg(sum("c").as("n"))

  /** One greedy merge pass of (a, b) over the rep column. `a`/`b` are
    * [a-z]+ symbols (asserted), injected as SQL literals. */
  private[text] def mergePass(reps: DataFrame, a: String, b: String): DataFrame = {
    require(a.matches("[a-z]+") && b.matches("[a-z]+"), s"bad symbols: $a $b")
    reps.withColumn("rep", expr(
      s"""replace(aggregate(split(rep, ' '), CAST('' AS STRING),
         |  (acc, x) -> CASE
         |    WHEN x = '$b' AND (acc = '$a' OR endswith(acc, ' $a'))
         |      THEN concat(substring(acc, 1, length(acc) - ${a.length}),
         |                  '$a$b\\u0001')
         |    WHEN acc = '' THEN x
         |    ELSE concat(acc, ' ', x) END), '\\u0001', '')""".stripMargin))
  }

  /** The first ROUNDS merges: (merge_round, lhs, rhs, merged, n). */
  def qBpeMerges(spark: SparkSession, dir: String): DataFrame =
    mergesOf(spark, t(spark, dir, "documents"))

  /** Runs the merge loop; returns the final rep table and the merge
    * trajectory. Stops early when the vocabulary is fully merged. */
  private[text] def train(docs: DataFrame)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    var reps = vocabOf(docs).localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= ROUNDS && !exhausted) {
      pairCounts(reps)
        .orderBy(col("n").desc, col("pair").asc).limit(1)
        .collect().headOption match {
        case None => exhausted = true
        case Some(top) =>
          val Array(a, b) = top.getString(0).split(" ", 2)
          reps = mergePass(reps, a, b).localCheckpoint()
          merges += ((r, a, b, a + b, top.getLong(1)))
          r += 1
      }
    }
    (reps, merges.result())
  }

  private[text] def mergesOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    train(docs)._2.toDF("merge_round", "lhs", "rhs", "merged", "n")
  }

  /** Unrolled-round oracle chain shared by both heads: each round is a
    * (pairs -> top1 -> merged reps) CTE triple carrying (w, rep, c);
    * the merge fold mirrors mergePass with list_reduce (same
    * sentinel-tag discipline). */
  private def bpeChain: String = {
    def round(r: Int): String = {
      val prev = s"r${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, CAST(sum(c) AS BIGINT) AS n FROM (
         |    SELECT unnest(list_transform(range(1, len(string_split(rep, ' '))),
         |      i -> string_split(rep, ' ')[i] || ' ' || string_split(rep, ' ')[i + 1])) AS pair,
         |      c
         |    FROM $prev)
         |  GROUP BY pair),
         |t$r AS MATERIALIZED (
         |  SELECT $r AS merge_round,
         |    string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, n
         |  FROM p$r ORDER BY n DESC, pair ASC LIMIT 1),
         |r$r AS MATERIALIZED (
         |  SELECT w, CASE WHEN len(string_split(rep, ' ')) = 1 THEN rep
         |    ELSE replace(list_reduce(string_split(rep, ' '),
         |      (acc, x) -> CASE
         |        WHEN x = t$r.b AND (acc = t$r.a OR ends_with(acc, ' ' || t$r.a))
         |          THEN substr(acc, 1, len(acc) - len(t$r.a)) || t$r.a || t$r.b || chr(1)
         |        ELSE acc || ' ' || x END), chr(1), '') END AS rep, c
         |  FROM $prev, t$r)""".stripMargin
    }
    val rounds = (1 to ROUNDS).map(round).mkString(",\n")
    s"""r0 AS MATERIALIZED (
       |  SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS rep, count(*) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |$rounds""".stripMargin
  }

  private def mergesOracle: String = {
    val heads = (1 to ROUNDS)
      .map(r => s"SELECT merge_round, a AS lhs, b AS rhs, a || b AS merged, n FROM t$r")
      .mkString("\nUNION ALL\n")
    s"WITH $bpeChain\n$heads"
  }

  /** Tokenize the corpus with the TRAINED tokenizer — the step after
    * merge induction: every corpus word maps to its final symbol count
    * through the trained rep table (an equi-join on the word key that
    * co-partitions both sides at scale — the vocabulary is only
    * broadcast-sized in tests), rolled up per source with the measured
    * subtokens-per-word fertility. The fertility ratio is an exact
    * integer HALF_UP division (the waste_frac discipline) in
    * DECIMAL(38)/HUGEINT, so no binary-double quotient reaches a
    * round(). */
  def qBpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val reps = train(docs)._1
      .select(col("w"), size(split(col("rep"), " ")).cast("long").as("n_sym"))
    docs.select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(reps, "w")
      .groupBy("source")
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_words"),
        sum("n_sym").as("n_tokens"))
      .withColumn("fertility", expr(
        """CAST((2 * CAST(n_tokens AS DECIMAL(38,0)) * 1000000
          |     + CAST(n_words AS DECIMAL(38,0)))
          | DIV (2 * CAST(n_words AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0""".stripMargin))
  }

  private def tokenizeOracle: String =
    s"""WITH $bpeChain,
       |wtok AS MATERIALIZED (
       |  SELECT w, CAST(len(string_split(rep, ' ')) AS BIGINT) AS n_sym
       |  FROM r$ROUNDS),
       |cw AS (
       |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |j AS (SELECT source, doc_id, n_sym FROM cw JOIN wtok USING (w)
       |  WHERE len(w) > 0)
       |SELECT source, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_words,
       |  CAST(sum(n_sym) AS BIGINT) AS n_tokens,
       |  CAST((2 * CAST(sum(n_sym) AS HUGEINT) * 1000000 + CAST(count(*) AS HUGEINT))
       |       // (2 * CAST(count(*) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS fertility
       |FROM j GROUP BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_merges" -> (qBpeMerges _),
    "text_bpe_tokenize" -> (qBpeTokenize _))

  val oracleSql: Map[String, String] = Map(
    "text_bpe_merges" -> mergesOracle,
    "text_bpe_tokenize" -> tokenizeOracle)
}
