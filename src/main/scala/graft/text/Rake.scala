package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
  * Extraction from Individual Documents"): candidate phrases are the
  * maximal stopword-free word runs; each word scores deg(w)/freq(w)
  * (degree = total length of phrases it appears in, frequency = its
  * occurrence count); a phrase scores the sum of its words' scores.
  * The corpus-level top-k of that score is the keyword table a corpus
  * card ships.
  *
  * Determinism: phrase extraction is pure string surgery (stopwords
  * become a U+0001 sentinel, join, split, trim — no regex classes);
  * deg/freq are exact integer aggregates; each word score is the exact
  * HALF_UP 6-dp integer division, phrase scores are integer sums of
  * those micro-scores, and the top-15 cut is a total order
  * (score DESC, occurrences DESC, phrase ASC — phrases are distinct).
  *
  * Scale shape: one explode to phrase occurrences, one word-grain
  * groupBy (vocabulary-bounded), one word-keyed join back (both sides
  * hash on the word), one phrase-grain aggregate — the TF-IDF family's
  * exact envelope; the top-15 is TakeOrderedAndProject. */
object Rake extends graft.Registry {

  private val STOP = Seq("the", "and", "of", "to", "in", "is", "a")
  private val TOPK = 15

  private def stopList(quote: String => String): String =
    STOP.map(quote).mkString("[", ", ", "]")

  /** Spark-side phrase array: stopwords -> sentinel, join, split. */
  private val phrasesExpr: String = {
    val stops = STOP.map(s => s"'$s'").mkString("array(", ", ", ")")
    s"""filter(transform(
       |  split(array_join(transform(filter(split(text, ' '), w -> length(w) > 0),
       |    w -> CASE WHEN array_contains($stops, w) THEN '' ELSE w END), ' '),
       |  ''),
       |  p -> trim(p)), p -> length(p) > 0)""".stripMargin
  }

  def qRakeKeywords(spark: SparkSession, dir: String): DataFrame =
    rakeOf(t(spark, dir, "documents"))

  /** [[qRakeKeywords]] over any frame with a `text` column. */
  private[text] def rakeOf(docs: DataFrame): DataFrame = {
    val ph = docs.select(explode(expr(phrasesExpr)).as("phrase"))
    val words = ph
      .select(col("phrase"), size(split(col("phrase"), " ")).as("plen"),
        explode(split(col("phrase"), " ")).as("word"))
    val wordScore = words.groupBy("word")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .withColumn("wscore_micro",
        expr("(2 * deg * 1000000 + freq) DIV (2 * freq)"))
      .select("word", "wscore_micro")
    val phraseOcc = ph.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"))
    phraseOcc
      .select(col("phrase"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("word"))
      .join(wordScore, Seq("word"))
      .groupBy("phrase", "n_occurrences")
      .agg(sum("wscore_micro").as("score_micro"),
        count(lit(1)).as("n_words"))
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        (col("score_micro").cast("double") / 1e6).as("score"))
      .orderBy(col("score").desc, col("n_occurrences").desc, col("phrase").asc)
      .limit(TOPK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_rake_keywords" -> (qRakeKeywords _))

  val oracleSql: Map[String, String] = Map(
    "text_rake_keywords" -> {
      val stops = STOP.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH ph AS (
         |  SELECT trim(p) AS phrase
         |  FROM (SELECT unnest(string_split(array_to_string(
         |      list_transform(list_filter(string_split(text, ' '),
         |          w -> length(w) > 0),
         |        w -> CASE WHEN list_contains($stops, w)
         |             THEN chr(1) ELSE w END), ' '),
         |      chr(1))) AS p
         |    FROM documents)
         |  WHERE length(trim(p)) > 0),
         |w AS (SELECT phrase, len(string_split(phrase, ' ')) AS plen,
         |    unnest(string_split(phrase, ' ')) AS word FROM ph),
         |ws AS (SELECT word,
         |    (2 * CAST(sum(plen) AS HUGEINT) * 1000000 + count(*))
         |      // (2 * CAST(count(*) AS HUGEINT)) AS wscore_micro
         |  FROM w GROUP BY word),
         |po AS (SELECT phrase, count(*) AS n_occurrences FROM ph GROUP BY phrase),
         |pw AS (SELECT po.phrase, po.n_occurrences,
         |    unnest(string_split(po.phrase, ' ')) AS word FROM po)
         |SELECT pw.phrase,
         |  count(*) AS n_words,
         |  CAST(pw.n_occurrences AS BIGINT) AS n_occurrences,
         |  CAST(sum(ws.wscore_micro) AS DOUBLE) / 1e6 AS score
         |FROM pw JOIN ws ON ws.word = pw.word
         |GROUP BY pw.phrase, pw.n_occurrences
         |ORDER BY score DESC, n_occurrences DESC, phrase ASC
         |LIMIT $TOPK""".stripMargin
    })
}
