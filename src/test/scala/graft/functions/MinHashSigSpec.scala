package graft.functions

import graft.clustering.SparkTestSession
import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The native minhash_sig kernel must be bitwise the HOF formulation it
  * replaced — `array_min(transform(split(s, ' '), w -> md5(concat('i:',
  * w))))` per member — on split edge cases (empty tokens), Unicode
  * normalization edge cases and real documents, in both the interpreted
  * (eval) and codegen paths; and the signature projection must run
  * inside whole-stage codegen, evaluated once per row. */
class MinHashSigSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val rows: Seq[String] = Seq(
    null,
    "",
    " ",
    "  leading spaces",
    "trailing spaces  ",
    "double  space inside",
    "tab\tand\nnewline stay inside words",
    "caf\u00e9 nfc",
    "cafe\u0301 nfd",
    "zero\u200dwidth joiner",
    "漢字 かな 한국어 mixed cjk",
    (1 to 10000).map(i => s"w${i * 7919 % 1009}").mkString(" "))

  /** The HOF formulation, one column per member. */
  private def hof(s: String, h: Int) =
    (0 until h).map(i => expr(s"array_min(transform(split($s, ' '), w -> md5(concat('$i:', w))))"))

  /** (doc_id, text) rows whose kernel signature differs from the HOF's. */
  private def mismatches(docs: DataFrame, h: Int): Seq[String] = {
    val nt = GraftFunctions.normalizeText(col("text"))
    val cmp = docs.withColumn("nt", nt)
      .select(Seq(col("doc_id"), col("text"), GraftFunctions.minhashSig(col("nt"), h).as("k")) ++
        hof("nt", h).zipWithIndex.map { case (c, i) => c.as(s"h$i") }: _*)
    val same = (col("k").isNull && col("text").isNull) ||
      (size(col("k")) === h && (0 until h).map(i => col("k").getItem(i) === col(s"h$i")).reduce(_ && _))
    cmp.filter(!coalesce(same, lit(false))).select("doc_id").as[Long].collect().toSeq.map(_.toString)
  }

  private def crafted = rows.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
  private def sf0001 = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")

  test("minhash_sig equals the HOF formulation at h=1 and h=8") {
    for (h <- Seq(1, 8); (name, docs) <- Seq("crafted" -> crafted, "sf0.001" -> sf0001)) {
      val bad = mismatches(docs, h)
      assert(bad.isEmpty, s"$name h=$h: rows ${bad.mkString(", ")} differ")
    }
  }

  test("interpreted eval equals the codegen path; NULL in, NULL out") {
    val gen = crafted.select(col("doc_id"), GraftFunctions.minhashSig(col("text"), 8).as("k"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    rows.zipWithIndex.foreach { case (s, i) =>
      val v = MinHashSig(Literal(if (s == null) null else UTF8String.fromString(s), StringType), 8).eval(null)
      val ev = Option(v).map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[UTF8String](StringType).map(_.toString).toSeq)
      assert(ev == gen(i.toLong), s"row $i")
    }
    assert(gen(0L).isEmpty)
  }

  test("minhash_sig is registered for SQL") {
    val r = spark.sql("SELECT minhash_sig('a b', 2) AS k, " +
      "array_min(transform(split('a b', ' '), w -> md5(concat('1:', w)))) AS m1").head()
    assert(r.getSeq[String](0).size == 2 && r.getSeq[String](0)(1) == r.getString(1))
  }

  test("the signature projection is whole-stage codegen'd and runs the kernel once per row") {
    for (df <- Seq(Dedup.signatures(sf0001), Dedup.candidatesOf(sf0001))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val kernels = collect(plan) { case p => p.expressions.flatMap(_.collect { case m: MinHashSig => m }) }.flatten
      assert(kernels.size == 1, s"minhash_sig evaluated ${kernels.size} times:\n$plan")
      // a codegen stage ends at its InputAdapter
      def inStage(p: SparkPlan): Boolean = p match {
        case _: InputAdapter => false
        case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[MinHashSig])) => true
        case other => other.children.exists(inStage)
      }
      val codegend = collect(plan) { case w: WholeStageCodegenExec => w.child }.exists(inStage)
      assert(codegend, s"the minhash_sig projection is not under WholeStageCodegen:\n$plan")
    }
  }
}
