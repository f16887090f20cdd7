package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Held-out n-gram coverage: what fraction of the validation split's
  * distinct word bigrams were seen in the training split of the SAME
  * language — the standard pretraining-data diagnostic for whether a
  * held-out set is representative (low coverage = distribution gap or
  * val-only vocabulary; 100% = likely leakage/duplication). Splits
  * are the engine's standing 80/10/10 md5-nibble assignment
  * (pipeline_split), so the report composes with every split consumer.
  *
  * Determinism: distinct-set sizes are exact integers; coverage is the
  * exact HALF_UP 6-dp integer division (the waste_frac discipline).
  *
  * Scale shape: one explode per split, distinct on (lang, bigram) —
  * hash-partitioned by the join key, so the train-side distinct, the
  * val-side distinct, and the LEFT SEMI membership join all share one
  * partitioning (AQE fuses them); no broadcast of anything
  * corpus-sized, no window. At 100 TB the bigram dictionary is the
  * shuffled object — bounded by distinct vocabulary squared in theory
  * but by corpus token mass in practice, the same envelope as the
  * BPE/TF-IDF family. */
object Coverage extends graft.Registry {

  private def split3(df: DataFrame): DataFrame =
    df.withColumn("bucket",
        pmod(expr(graft.pipeline.Splits.nibbleHashSql("cast(doc_id as string)")),
          lit(100)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))

  /** Distinct (lang, bigram) pairs of one split. Guard: Spark's
    * sequence(1, 0) is a DESCENDING [1, 0], not empty (the step
    * defaults to -1 when start > stop), so sub-2-token documents must
    * take the empty-array branch explicitly. */
  private def bigrams(df: DataFrame, splitName: String): DataFrame =
    df.filter(col("split") === splitName)
      .select(col("lang"), expr(
        """explode(CASE WHEN size(split(text, ' ')) >= 2 THEN
          |  transform(
          |    sequence(1, size(split(text, ' ')) - 1),
          |    i -> concat(element_at(split(text, ' '), i), ' ',
          |                element_at(split(text, ' '), i + 1)))
          |ELSE array() END)""".stripMargin)
        .as("bigram"))
      .distinct()

  def qNgramCoverage(spark: SparkSession, dir: String): DataFrame =
    ngramCoverageOf(t(spark, dir, "documents"))

  /** [[qNgramCoverage]] over any (doc_id, lang, text) frame. */
  private[text] def ngramCoverageOf(documents: DataFrame): DataFrame = {
    val docs = split3(documents)
    val train = bigrams(docs, "train")
      .select(col("lang").as("t_lang"), col("bigram").as("t_bigram"))
    val vl = bigrams(docs, "val")
    val covered = vl.join(train,
      col("lang") === col("t_lang") && col("bigram") === col("t_bigram"),
      "left_semi")
    val nVal = vl.groupBy("lang").agg(count(lit(1)).as("n_val_bigrams"))
    val nCov = covered.groupBy("lang").agg(count(lit(1)).as("n_covered"))
    nVal.join(nCov, Seq("lang"), "left")
      .select(col("lang"), col("n_val_bigrams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        expr("""CAST((2 * coalesce(n_covered, 0) * 1000000 + n_val_bigrams)
               |     DIV (2 * n_val_bigrams) AS DOUBLE) / 1000000.0""".stripMargin)
          .as("coverage"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_ngram_coverage" -> (qNgramCoverage _))

  val oracleSql: Map[String, String] = Map(
    "text_ngram_coverage" -> {
      val bucket =
        s"(${graft.pipeline.Splits.nibbleHashSql("cast(doc_id as string)")}) % 100"
      s"""WITH d AS (
         |  SELECT lang, text,
         |    CASE WHEN $bucket < 80 THEN 'train'
         |         WHEN $bucket < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM documents),
         |bg AS (
         |  SELECT DISTINCT split, lang, bigram
         |  FROM (SELECT split, lang,
         |          unnest(list_transform(
         |            range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1),
         |            i -> string_split(text, ' ')[i] || ' ' ||
         |                 string_split(text, ' ')[i + 1])) AS bigram
         |        FROM d WHERE split IN ('train', 'val'))),
         |v AS (SELECT lang, bigram FROM bg WHERE split = 'val'),
         |tr AS (SELECT lang, bigram FROM bg WHERE split = 'train'),
         |nv AS (SELECT lang, count(*) AS n_val_bigrams FROM v GROUP BY 1),
         |nc AS (SELECT lang, count(*) AS n_covered
         |       FROM v SEMI JOIN tr USING (lang, bigram) GROUP BY 1)
         |SELECT nv.lang, n_val_bigrams,
         |  CAST(coalesce(n_covered, 0) AS BIGINT) AS n_covered,
         |  CAST((2 * CAST(coalesce(n_covered, 0) AS HUGEINT) * 1000000
         |        + n_val_bigrams)
         |       // (2 * CAST(n_val_bigrams AS HUGEINT)) AS DOUBLE) / 1000000.0
         |    AS coverage
         |FROM nv LEFT JOIN nc ON nv.lang = nc.lang""".stripMargin
    })
}
