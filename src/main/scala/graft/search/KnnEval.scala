package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t

/** Embedding-quality evaluation by nearest neighbors: leave-one-out
  * k-NN label classification (the standard "do embeddings encode the
  * labels" probe run before trusting a space for retrieval or
  * clustering) and the Matryoshka prefix-dimension quality curve (how
  * much of the full-dimension neighborhood structure survives when
  * vectors are truncated to their first p components — the published
  * MRL/dimension-truncation deployment question: can the index store
  * 16 of 64 dims).
  *
  * Determinism: ALL scoring is exact integer arithmetic on MicroGrid-
  * quantized components (round(x*1e6) is an exact scale-0 decision on
  * the identical IEEE double in both engines, §4): squared-L2 distances
  * are exact BIGINTs (|q| <= ~6e5 micro-units, so a 64-term sum of
  * squared diffs stays < 1e14 — far inside the Long range), neighbor
  * ranking ties break on vec_id, majority-vote ties on label, and every
  * reported ratio is an exact integer HALF_UP division — no
  * order-dependent double ever reaches a comparison or a round.
  *
  * Scale shape: both operators broadcast a CONSTANT-size eval/query
  * set against the corpus (one corpus pass, no corpus-side shuffle —
  * the qTopK shape). The LOO eval set is ABSOLUTE-bounded: vec_id%10
  * picks the deterministic decimation and `vec_id < 10*EN` caps it at
  * EN ids regardless of corpus size (the QN convention of every other
  * eval operator — r13's `vec_id % 10` alone grew WITH the corpus:
  * broadcast OOM + an N^2/10 scoring pass at 1B vectors). The 5-NN
  * cut runs through the TopKPerKey physical operator (bounded k-row
  * heap per eval id, map-side combinable) instead of a full-sort
  * row_number window over the corpus x eval join. */
object KnnEval extends graft.Registry {

  private val D = 64
  private val K = 5
  private val EN = 1000 // absolute eval-set cap: vec_id % 10 == 0 AND vec_id < 10*EN
  private val DIMS = Seq(8, 16, 32, 64)

  /** MicroGrid-quantized BIGINT vector of an embedding column. */
  private def qvec(c: String): String =
    s"transform($c, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"

  // Exact integer squared-L2 between two quantized BIGINT arrays rides
  // the NATIVE fused-loop expression (graft.functions.SquaredL2 — the
  // HOF formulation `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)),
  // 0L, (acc,v) -> acc+v)` pays interpreted lambda dispatch + an
  // intermediate array per pair, ~corpus x EN times per query; the
  // expression reproduces that fold bitwise — SquaredL2Spec pins it).

  /** Exact HALF_UP 6-dp of num/den for nonnegative integer columns. */
  private def ratio6(num: String, den: String): String =
    s"CAST((2 * CAST($num AS BIGINT) * 1000000 + CAST($den AS BIGINT)) DIV (2 * CAST($den AS BIGINT)) AS DOUBLE) / 1000000.0"

  /** Leave-one-out 5-NN majority-vote classification over the labeled
    * embeddings, accuracy per true label. Eval set: vec_id % 10 == 0
    * AND vec_id < 10*EN (deterministic decimation, ABSOLUTE cap of EN
    * points); each eval point scores against the FULL corpus minus
    * itself. */
  def qKnnClassify(spark: SparkSession, dir: String): DataFrame =
    knnClassifyOf(t(spark, dir, "embeddings"))

  /** [[qKnnClassify]] over any (vec_id, embedding, label) frame. */
  private[search] def knnClassifyOf(emb: DataFrame): DataFrame = {
    val e = emb
      .select(col("vec_id"), col("label"), expr(qvec("embedding")).as("q"))
    val ev = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 10L * EN)
      .select(col("vec_id").as("e_id"), col("label").as("true_label"),
        col("q").as("eq"))
    val scored = e.join(broadcast(ev), col("e_id") =!= col("vec_id"))
      .select(col("e_id"), col("true_label"), col("vec_id"), col("label"),
        graft.functions.GraftFunctions.squaredL2(col("eq"), col("q")).as("dist2"))
    // 5-NN cut through the bounded-heap TopKPerKey exec, not a full-
    // sort window: rank by (-dist2 DESC, vec_id ASC) == (dist2 ASC,
    // vec_id ASC). dist2 < 1e14 < 2^53, so the double negation is
    // exact and the ordering is identical to the BIGINT one.
    val votes = graft.plans.TopKPerKey(
        scored.withColumn("negd", -col("dist2").cast("double")),
        Seq("e_id"), "negd", "vec_id", K)
      .drop("negd", "rank")
      .groupBy("e_id", "true_label", "label")
      .agg(count(lit(1)).as("n"))
    val wv = Window.partitionBy("e_id").orderBy(col("n").desc, col("label").asc)
    votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
      .groupBy("true_label")
      .agg(
        count(lit(1)).as("n_eval"),
        sum(when(col("label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("true_label"), col("n_eval"), col("n_correct"),
        expr(ratio6("n_correct", "n_eval")).as("accuracy"))
  }

  /** Matryoshka prefix-dimension recall curve: for each prefix length
    * p in {8,16,32,64}, the 5-NN sets of the QN query vectors under
    * p-dim distance, measured as recall against the full-64-dim truth
    * (p = 64 is the built-in recall-1.0 control row). One candidate
    * lineage exploded 4 ways, one bounded window per (p, query). */
  def qMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), expr(qvec("embedding")).as("q"))
    val qs = e.filter(col("vec_id") <= SimSearch.QN)
      .select(col("vec_id").as("q_id"), col("q").as("eq"))
    val ranked = e.join(broadcast(qs), col("q_id") =!= col("vec_id"))
      .withColumn("p", explode(lit(DIMS.toArray)))
      .select(col("p"), col("q_id"), col("vec_id"),
        // fused prefix-distance: squared_l2 over the first p components,
        // bitwise the slice+zip_with fold without the two slice allocs
        graft.functions.GraftFunctions
          .squaredL2Prefix(col("eq"), col("q"), col("p")).as("dist2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("p", "q_id").orderBy(col("dist2").asc, col("vec_id").asc)))
      .filter(col("rk") <= K)
      .select("p", "q_id", "vec_id")
    val truth = ranked.filter(col("p") === D)
      .select(col("q_id").as("t_qid"), col("vec_id").as("t_vid"))
    // truth size derives from the data (number of query ids x K), not a
    // constant: vec_id is 0-based, so `vec_id <= QN` admits QN+1 queries
    val tc = truth.agg(count(lit(1)).as("n_truth"))
    ranked.join(broadcast(truth),
        col("q_id") === col("t_qid") && col("vec_id") === col("t_vid"),
        "left_semi")
      .groupBy("p")
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(tc))
      .select(col("p").as("prefix_dim"), col("n_truth"), col("n_hits"),
        expr(ratio6("n_hits", "n_truth")).as("recall"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_knn_classify" -> (qKnnClassify _),
    "simsearch_matryoshka" -> (qMatryoshka _))

  private val sqlQvec =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"

  private def sqlRatio6(num: String, den: String): String =
    s"CAST((2 * CAST($num AS HUGEINT) * 1000000 + CAST($den AS HUGEINT)) // (2 * CAST($den AS HUGEINT)) AS DOUBLE) / 1000000.0"

  val oracleSql: Map[String, String] = Map(
    "embed_knn_classify" ->
      s"""WITH e AS (SELECT vec_id, label, $sqlQvec AS q FROM embeddings),
         |ev AS (SELECT vec_id AS e_id, label AS true_label, q AS eq
         |  FROM e WHERE vec_id % 10 = 0 AND vec_id < ${10L * EN}),
         |sc AS (SELECT e_id, true_label, e.vec_id, e.label,
         |    list_sum(list_transform(range(1, ${D + 1}),
         |      i -> (eq[i] - q[i]) * (eq[i] - q[i]))) AS dist2
         |  FROM ev JOIN e ON e_id <> e.vec_id),
         |rk AS (SELECT *, row_number() OVER
         |    (PARTITION BY e_id ORDER BY dist2 ASC, vec_id ASC) AS rk FROM sc),
         |votes AS (SELECT e_id, true_label, label, count(*) AS n
         |  FROM rk WHERE rk <= $K GROUP BY 1, 2, 3),
         |pred AS (SELECT e_id, true_label, label AS pred_label,
         |    row_number() OVER (PARTITION BY e_id ORDER BY n DESC, label ASC) AS vr
         |  FROM votes),
         |acc AS (SELECT true_label, count(*) AS n_eval,
         |    sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS n_correct
         |  FROM pred WHERE vr = 1 GROUP BY 1)
         |SELECT true_label, CAST(n_eval AS BIGINT) AS n_eval,
         |  CAST(n_correct AS BIGINT) AS n_correct,
         |  ${sqlRatio6("n_correct", "n_eval")} AS accuracy
         |FROM acc""".stripMargin,
    "simsearch_matryoshka" ->
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS q FROM embeddings),
         |qs AS (SELECT vec_id AS q_id, q AS eq FROM e WHERE vec_id <= ${SimSearch.QN}),
         |pp AS (SELECT unnest([${DIMS.mkString(", ")}]) AS p),
         |sc AS (SELECT p, q_id, e.vec_id,
         |    list_sum(list_transform(range(1, p + 1),
         |      i -> (eq[i] - q[i]) * (eq[i] - q[i]))) AS dist2
         |  FROM qs JOIN e ON q_id <> e.vec_id CROSS JOIN pp),
         |rk AS MATERIALIZED (SELECT p, q_id, vec_id FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY p, q_id ORDER BY dist2 ASC, vec_id ASC) AS rk FROM sc)
         |  WHERE rk <= $K),
         |tr AS MATERIALIZED (SELECT q_id, vec_id FROM rk WHERE p = $D),
         |tc AS (SELECT count(*) AS n_truth FROM tr),
         |hits AS (SELECT p, count(*) AS n_hits
         |  FROM rk SEMI JOIN tr USING (q_id, vec_id) GROUP BY p)
         |SELECT CAST(p AS INT) AS prefix_dim,
         |  CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_hits AS BIGINT) AS n_hits,
         |  ${sqlRatio6("n_hits", "n_truth")} AS recall
         |FROM hits CROSS JOIN tc""".stripMargin)
}
