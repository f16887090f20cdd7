package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.Tables.t
import Dedup.grams

/** Bloom-filter pre-filtered benchmark decontamination.
  *
  * The exact decontamination (Dedup.decontaminate) broadcasts the
  * benchmark gram set as a hash-join build side. At 100 TB with a LARGE
  * eval suite, the gram set itself can outgrow a broadcast build — but
  * its bloom filter (a few bits per gram) still fits. This operator
  * interposes that bloom as a pre-filter: corpus grams are dropped in
  * the SCAN stage by `might_contain` before any join, so the join only
  * probes grams that (probably) hit the benchmark.
  *
  * Bloom filters have NO false negatives, so the exact confirm join
  * after the pre-filter produces byte-identical output to the exact
  * operator — which is why this query shares the exact operator's
  * DuckDB oracle. BloomSpec asserts the equivalence row-for-row and
  * that the pre-filter actually prunes.
  *
  * Built on Spark's own sketch (spark.util.sketch.BloomFilter via the
  * BloomFilterAggregate / BloomFilterMightContain Catalyst expressions
  * that power its runtime join filtering), driven through the same
  * Column bridge as the library's native expressions.
  */
object Bloom extends graft.Registry {

  private def xx(c: Column): XxHash64 = new XxHash64(Seq(GraftBridge.expression(c)))

  /** Aggregate: bloom filter of xxhash64(col) as a 1-row binary. */
  def bloomAgg(c: Column, expectedItems: Long): Column =
    GraftBridge.column(
      new BloomFilterAggregate(xx(c), expectedItems).toAggregateExpression())

  /** Predicate: membership probe against a bloom binary (no false
    * negatives; false positives at the filter's configured rate). */
  def mightContain(bloom: Column, value: Column): Column =
    GraftBridge.column(
      BloomFilterMightContain(GraftBridge.expression(bloom), xx(value)))

  /** Same contract as Dedup.decontaminate, with the bloom pre-filter
    * ahead of the exact confirm join. Identical output by construction. */
  def decontaminateBloom(spark: SparkSession, dir: String, benchMaxId: Long = 5,
                         n: Int = 5, minShared: Int = 20,
                         expectedGrams: Long = 1L << 16): DataFrame = {
    // default n rides the STAGED shingle table like the exact operator
    val gsrc =
      if (n == 5) Dedup.stagedGrams5(spark, dir)
      else Dedup.normDocs(t(spark, dir, "documents"))
        .select(col("doc_id"), grams(n).as("gs"))
    def gramsOf(pred: Column, idAs: String): DataFrame =
      gsrc.filter(pred).select(col("doc_id").as(idAs), explode(col("gs")).as("g"))
    val bench = gramsOf(col("doc_id") <= benchMaxId, "bench_id")
    // might_contain requires a CONSTANT bloom: materialize the sketch on
    // the driver (bits only — sketch-sized state, like the K centers the
    // clustering loops move) and embed it as a binary literal, the same
    // thing Spark's own InjectRuntimeFilter does via scalar subquery
    val bfBytes = bench.agg(bloomAgg(col("g"), expectedGrams).as("bf"))
      .head.getAs[Array[Byte]](0)
    gramsOf(col("doc_id") > benchMaxId, "doc_id")
      .filter(mightContain(lit(bfBytes), col("g")))
      .join(broadcast(bench), "g")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def qDecontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    decontaminateBloom(spark, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_decontaminate_bloom" -> (qDecontaminateBloom _))

  /** The bloom pre-filter cannot change the result, so the oracle IS
    * the exact decontamination SQL. */
  val oracleSql: Map[String, String] = Map(
    "dedup_decontaminate_bloom" ->
      s"""WITH gs AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(text) - 3), i -> substr(text, CAST(i AS INT), 5)))) AS g
        |  FROM (SELECT doc_id, ${Dedup.NT} AS text FROM documents))
        |SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
        |FROM gs c JOIN gs b ON c.g = b.g
        |WHERE b.doc_id <= 5 AND c.doc_id > 5
        |GROUP BY c.doc_id, b.doc_id
        |HAVING count(*) >= 20""".stripMargin)
}
