package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Rocchio pseudo-relevance feedback — the classic query-expansion
  * loop a retrieval stack runs without any labels: take the query's
  * top-F neighbors, blend their centroid into the query
  * (q' = q/2 + centroid/2), re-search, and measure how much the
  * result set moved (overlap@k, new entries, top-1 change). The
  * stability-vs-drift report that decides whether PRF helps a corpus.
  *
  * Determinism: ALL scoring is the exact integer dot product on
  * MicroGrid-quantized components (64-term BIGINT sums ~2e13, double
  * cast exact below 2^53 for the bounded-heap cut); the blended query
  * is per-dimension exact SIGNED HALF_UP integer arithmetic
  * q'_d = round((F*q_d + sum_F(v_d)) / (2F)) — components can be
  * negative, so the division mirrors on the sign (the DiD rule);
  * neighbor sums are order-free integer zip_with folds.
  *
  * Scale shape: two broadcast corpus passes (original + expanded
  * query sets, each QN-bounded) with TopKPerKey cuts; the blend
  * itself touches QN x F rows. */
object Prf extends graft.Registry {

  private val F = 3   // feedback depth
  private val K = 10  // report depth

  private def qvec(c: String): String =
    s"transform($c, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"

  private def idot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  def qPrf(spark: SparkSession, dir: String): DataFrame =
    prfOf(t(spark, dir, "embeddings"))

  /** [[qPrf]] over any (vec_id, embedding) frame. */
  private[search] def prfOf(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), expr(qvec("embedding")).as("v"))
    val q = e.filter(col("vec_id") <= SimSearch.QN)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), col("v"),
        expr(idot("qv", "v")).as("dot"))
      .withColumn("sc", col("dot").cast("double"))
    val orig = graft.plans.TopKPerKey(
      scored.select("q_id", "vec_id", "sc"), Seq("q_id"), "sc", "vec_id", K)
    val fb = graft.plans.TopKPerKey(
        scored.select("q_id", "vec_id", "v", "sc"), Seq("q_id"), "sc", "vec_id", F)
      .groupBy("q_id")
      // fold seeded with the FIRST collected vector (dimension-
      // agnostic: array_repeat(0, D) zip-pads any other length with
      // NULLs and silently poisons every downstream dot product)
      .agg(expr(
        s"""element_at(transform(array(collect_list(v)), vs ->
           |  aggregate(slice(vs, 2, size(vs)), element_at(vs, 1),
           |    (acc, x) -> zip_with(acc, x, (a, b) -> a + b))), 1)""".stripMargin)
        .as("s3"))
    val qp = q.join(fb, "q_id")
      .select(col("q_id"), expr(
        s"""zip_with(qv, s3, (a, b) ->
           |  CASE WHEN $F * a + b >= 0
           |    THEN (2 * ($F * a + b) + ${2 * F}) DIV ${4 * F}
           |    ELSE -((2 * -($F * a + b) + ${2 * F}) DIV ${4 * F}) END)""".stripMargin)
        .as("qpv"))
    val rescored = e.join(broadcast(qp), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        expr(idot("qpv", "v")).cast("double").as("sc"))
    val next = graft.plans.TopKPerKey(rescored, Seq("q_id"), "sc", "vec_id", K)
    val overlap = orig.select("q_id", "vec_id")
      .join(next.select("q_id", "vec_id"), Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
    val t1 = orig.filter(col("rank") === 1)
      .select(col("q_id"), col("vec_id").as("o1"))
      .join(next.filter(col("rank") === 1)
        .select(col("q_id"), col("vec_id").as("n1")), "q_id")
      .select(col("q_id"),
        when(col("o1") =!= col("n1"), 1L).otherwise(0L).as("top1_changed"))
    q.select("q_id").join(overlap, Seq("q_id"), "left").join(t1, "q_id")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (lit(K.toLong) - coalesce(col("n_overlap"), lit(0L))).as("n_new"),
        col("top1_changed"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simsearch_prf" -> (qPrf _))

  private val sqlQvec =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"

  private def sqlIdot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))"

  val oracleSql: Map[String, String] = Map(
    "simsearch_prf" ->
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |  WHERE vec_id <= ${SimSearch.QN}),
         |sc AS (SELECT q_id, e.vec_id, e.v, ${sqlIdot("qv", "e.v")} AS dot
         |  FROM q JOIN e ON q_id <> e.vec_id),
         |orig AS (SELECT q_id, vec_id, rk FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rk FROM sc)
         |  WHERE rk <= $K),
         |fb AS (SELECT q_id, vec_id, v FROM (
         |  SELECT q_id, vec_id, v, row_number() OVER (
         |    PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rk FROM sc)
         |  WHERE rk <= $F),
         |s3d AS (SELECT q_id, CAST(r.range AS INT) AS d,
         |    sum(v[CAST(r.range AS INT)]) AS sv
         |  FROM fb CROSS JOIN range(1, 65) r GROUP BY 1, 2),
         |qp AS (
         |  SELECT q.q_id, list(
         |      CASE WHEN $F * qv[d] + sv >= 0
         |        THEN (2 * ($F * qv[d] + sv) + ${2 * F}) // ${4 * F}
         |        ELSE -((2 * -($F * qv[d] + sv) + ${2 * F}) // ${4 * F}) END
         |      ORDER BY d) AS qpv
         |  FROM q JOIN s3d ON q.q_id = s3d.q_id GROUP BY 1),
         |rs AS (SELECT qp.q_id, e.vec_id, ${sqlIdot("qpv", "e.v")} AS dot
         |  FROM qp JOIN e ON qp.q_id <> e.vec_id),
         |nxt AS (SELECT q_id, vec_id, rk FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rk FROM rs)
         |  WHERE rk <= $K),
         |ov AS (SELECT orig.q_id, count(*) AS n_overlap
         |  FROM orig JOIN nxt ON orig.q_id = nxt.q_id AND orig.vec_id = nxt.vec_id
         |  GROUP BY 1),
         |t1 AS (SELECT o.q_id,
         |    CASE WHEN o.vec_id <> n.vec_id THEN 1 ELSE 0 END AS top1_changed
         |  FROM (SELECT q_id, vec_id FROM orig WHERE rk = 1) o
         |  JOIN (SELECT q_id, vec_id FROM nxt WHERE rk = 1) n ON o.q_id = n.q_id)
         |SELECT q.q_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CAST($K - coalesce(ov.n_overlap, 0) AS BIGINT) AS n_new,
         |  CAST(top1_changed AS BIGINT) AS top1_changed
         |FROM q LEFT JOIN ov ON q.q_id = ov.q_id
         |JOIN t1 ON q.q_id = t1.q_id""".stripMargin)
}
