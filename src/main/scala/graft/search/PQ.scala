package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.clustering.{ClusterSql, KMeans, Points}
import graft.functions.Exact.r6

/** Product quantization (PQ) ANN — the classic FAISS-style memory path
  * for billion-vector search, from its public description (Jégou et
  * al., "Product Quantization for Nearest Neighbor Search"): split each
  * 64-dim vector into M=8 subvectors, k-means each subspace into 16
  * centroids, store each vector as 8 small codes (8 bytes instead of
  * 256 — a 32x index compression), and score queries against the codes
  * with an ADC lookup table (one squared-distance table per query,
  * M x K' entries, computed once per query on the driver).
  *
  * Scale shape: training touches only K'*D doubles per subspace on the
  * driver (at 100 TB you train the codebooks on a sample — the corpus
  * never leaves the executors); the encode pass is one projection; the
  * scored search is a broadcast of QN tiny lookup tables against the
  * codes table — per corpus row, 8 array lookups + 7 adds, no vector
  * math at query time at all.
  *
  * Fully deterministic (first-K init, fixed iteration count, round-6
  * center means), so the ENTIRE pipeline — training, encoding, ADC
  * scoring — is oracled in generated SQL, like simsearch_ivf.
  * An empty training class keeps NaN centers on the Spark side and
  * NULL-center columns in SQL: both render the class unassignable
  * (NaN sorts above any real distance in array_min; the oracle
  * coalesces NULL distances to +infinity), so the two engines agree.
  */
object PQ extends graft.Registry {

  private val M = 8 // subspaces
  private val SUBD = 8 // dims per subspace
  private[search] val PQ_K = 16 // centroids per subspace codebook
  private[search] val PQ_TOPK = 5

  private def sub(s: Int): Seq[String] = Points.embedDims.slice(s * SUBD, (s + 1) * SUBD)

  /** Subspace codebook training: first-K init + 1 Lloyd iteration per
    * subspace (the same generic operators the clustering engine
    * exposes). Job-count discipline: pid is unique, so ONE TakeOrdered
    * collect yields every subspace's first-K init (identical values to
    * 8 per-subspace firstKCenters calls); ONE shared assign pass tags
    * all 8 subspace memberships; the 8 per-subspace mean-updates are
    * independent small aggregates, launched as CONCURRENT jobs over
    * the shared cached assignment — 3 job waves instead of 16
    * sequential driver round-trips. Shared by PQ and IVFPQ. */
  private[search] def trainCodebooks(pts: DataFrame,
                                     k: Int = PQ_K): Array[Array[Array[Double]]] = {
    val first = pts.orderBy(col("pid") +: Points.embedDims.map(col): _*).limit(k)
      .select(Points.embedDims.map(col): _*).collect()
      .map(r => Points.embedDims.indices.map(r.getDouble).toArray)
    val inits = Array.tabulate(M)(s =>
      Array.tabulate(k)(j => first(j).slice(s * SUBD, (s + 1) * SUBD)))
    val assigned = pts.select(
      (Points.embedDims.map(col) :+
        graft.functions.GraftFunctions
          .pqEncode(array(Points.embedDims.map(col): _*), inits).as("__t")): _*)
      .cache()
    assigned.count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val codebookFuts = (0 until M).map { s =>
      Future {
        val sd = sub(s)
        // exactly KMeans.update's math over this subspace's assignment
        val byK = KMeans.update(
          assigned.select(element_at(col("__t"), s + 1).as("k") +: sd.map(col): _*), sd)
          .collect()
          .map(r => r.getAs[Int]("k") -> sd.indices.map(i => r.getDouble(2 + i)).toArray)
          .toMap
        Array.tabulate(k)(j => byK.getOrElse(j, Array.fill(SUBD)(Double.NaN)))
      }
    }
    val codebooks = codebookFuts.map(Await.result(_, Duration.Inf)).toArray
    assigned.unpersist()
    codebooks
  }

  /** The 8-codes-per-vector encode projection (the PQ index shape),
    * via the native PQEncode expression — one fused pass instead of
    * M x K unrolled Catalyst distance trees (PQSpec proves the codes
    * bitwise-equal to the composed KMeans.assign formulation the
    * oracle mirrors). */
  private[search] def encodeCodes(pts: DataFrame,
                                  codebooks: Array[Array[Array[Double]]]): DataFrame =
    pts.select(col("pid"),
      graft.functions.GraftFunctions
        .pqEncode(array(Points.embedDims.map(col): _*), codebooks).as("__codes"))
      .select(col("pid") +: (0 until M).map(s =>
        element_at(col("__codes"), s + 1).as(s"code_$s")): _*)

  /** The declarative encode (M x K unrolled assigns) — the formulation
    * the SQL oracle mirrors; kept as the equivalence reference for
    * PQSpec. */
  private[search] def encodeCodesDeclarative(pts: DataFrame,
                                             codebooks: Array[Array[Array[Double]]]): DataFrame = {
    var enc = pts
    for (s <- 0 until M)
      enc = KMeans.assign(enc, codebooks(s), sub(s))
        .withColumnRenamed("k", s"code_$s").drop("dist")
    enc.select(col("pid") +: (0 until M).map(s => col(s"code_$s")): _*)
  }

  /** Driver-side ADC lookup table of one query vector: M x K' squared
    * partial distances, left-fold add order identical to the oracle.
    * The shape derives from the codebooks, so larger-K' sweep configs
    * (IvfPqSweep) ride the same code path the defaults are oracled on. */
  private[search] def adcTable(v: Array[Double],
                               codebooks: Array[Array[Array[Double]]]): Seq[Seq[Double]] = {
    val (m, k, subd) = (codebooks.length, codebooks.head.length, codebooks.head.head.length)
    (0 until m).map { s =>
      (0 until k).map { j =>
        (0 until subd).map { d =>
          val df = v(s * subd + d) - codebooks(s)(j)(d); df * df
        }.reduce(_ + _)
      }
    }
  }

  /** The ADC search: each (query, code row) pair except the query
    * itself scored by its `dtab` lookups (8 table lookups + an add
    * chain; approx distance = sqrt of the summed partials), the top
    * PQ_TOPK per query by (ad ASC, vec_id ASC). `pairs` carries q_id,
    * dtab, pid and code_0..code_{M-1}; flat PQ pairs every query with
    * every code row, IVFPQ with the rows of its probed cells. */
  private[search] def adTopK(pairs: DataFrame): DataFrame = {
    val ad = sqrt((0 until M).map(s =>
      element_at(element_at(col("dtab"), s + 1), col(s"code_$s") + 1)).reduce(_ + _))
    val w = Window.partitionBy("q_id").orderBy(col("ad").asc, col("vec_id").asc)
    pairs.filter(col("pid") =!= col("q_id"))
      .select(col("q_id"), col("pid").as("vec_id"), ad.as("ad"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PQ_TOPK)
      .select("q_id", "vec_id", "rank", "ad")
  }

  /** The default (non-residual) codebooks trained once per (JVM, dir)
    * — shared by PQ and the plain IVFPQ index exactly as a deployment
    * shares one trained codebook across its indexes; deterministic, so
    * staging cannot change results. M x PQ_K x SUBD doubles of driver
    * memory. The residual IVFPQ codebooks train on per-cell residuals
    * and are staged with their index (IvfPq.stagedIndex). */
  private[search] def stagedCodebooks(pts: DataFrame, dir: String): Array[Array[Array[Double]]] =
    graft.Memo.value(dir, "pq-codebooks")(trainCodebooks(pts))

  /** Flat PQ search: every query's ADC table against every code row.
    * The encode is one fused PQEncode projection below the broadcast
    * join, so each corpus row is encoded once per call. */
  def qPq(spark: SparkSession, dir: String): DataFrame = {
    val pts = Points.embeddings64(spark, dir)
    val codebooks = stagedCodebooks(pts, dir)
    import spark.implicits._
    val qdf = broadcast(SimSearch.queryVecs(spark, dir).toSeq
      .map { case (qid, v) => (qid, adcTable(v, codebooks)) }.toDF("q_id", "dtab"))
    adTopK(encodeCodes(pts, codebooks).crossJoin(qdf))
  }

  /** Train+encode CTE chain (${p}c0_s .. ${p}enc_s per subspace, then
    * the joined `${p}codes` table) over any (pid, e1..e64) point CTE
    * `src` (raw points for PQ, coarse residuals for residual IVFPQ).
    * The name prefix `p` keeps several variants' chains apart in one
    * WITH (the IVFPQ recall-curve oracle). Shared by the PQ and IVFPQ
    * oracles. */
  private[search] def pqTrainSql(src: String = "pts", p: String = ""): String = {
    val train = (0 until M).map { s =>
      val sd = sub(s)
      // u1_s is read by BOTH the encode widen and the qtab widen —
      // materialize so each subspace's training runs once
      s"""${ClusterSql.c0Sql(PQ_K, Points.embedPtsSql, sd, s"${p}c0_$s", src)},
         |${ClusterSql.widenSql(PQ_K, s"${p}c0_$s", s"${p}c0w_$s", sd)},
         |${ClusterSql.assignSql(PQ_K, s"${p}c0w_$s", s"${p}a1_$s", src, sd)},
         |${ClusterSql.updateSql(s"${p}a1_$s", s"${p}u1_$s", sd, mat = true)},
         |${ClusterSql.widenSql(PQ_K, s"${p}u1_$s", s"${p}cw_$s", sd)},
         |${ClusterSql.assignSql(PQ_K, s"${p}cw_$s", s"${p}enc_$s", src, sd)}""".stripMargin
    }.mkString(",\n")
    val codes = s"${p}codes AS (SELECT e0.pid, " +
      (0 until M).map(s => s"e$s.k AS code_$s").mkString(", ") +
      " FROM " + (0 until M).map(s => s"${p}enc_$s e$s").mkString(", ") +
      " WHERE " + (1 until M).map(s => s"e0.pid = e$s.pid").mkString(" AND ") + ")"
    s"$train,\n$codes"
  }

  /** The ADC table CTE (`${p}qtab`): one widened copy of each codebook
    * with a per-subspace column prefix, so all 8 can share one scope.
    * Expects the ${p}u1_s CTEs plus a query-point CTE `src` carrying
    * (e1..e64 + the `keySelect` columns); residual IVFPQ passes its
    * per-(query, cell) residual CTE. */
  private[search] def pqQtabSql(src: String = "pts",
                                keySelect: String = "pid AS q_id",
                                where: String = s"WHERE pid <= ${SimSearch.QN}",
                                p: String = ""): String = {
    val qWidens = (0 until M).map(s =>
      ClusterSql.widenSql(PQ_K, s"${p}u1_$s", s"${p}cwq_$s", sub(s), s"q${s}x")).mkString(",\n")
    val qtabCols = (0 until M).flatMap { s =>
      val sd = sub(s)
      (0 until PQ_K).map { j =>
        sd.zipWithIndex.map { case (d, pos) =>
          s"($d - q${s}x${j}_${pos + 1}) * ($d - q${s}x${j}_${pos + 1})"
        }.mkString(" + ") + s" AS pd_${s}_$j"
      }
    }.mkString(",\n    ")
    s"""$qWidens,
       |${p}qtab AS (SELECT $keySelect,
       |    $qtabCols
       |  FROM $src ${(0 until M).map(s => s"CROSS JOIN ${p}cwq_$s").mkString(" ")}
       |  $where)""".stripMargin
  }

  /** The ADC distance expression over a codes row `c` and a qtab row
    * `q` — explicit left-fold order, identical to adTopK's score. */
  private[search] def pqAdCaseSql: String =
    (0 until M).map { s =>
      s"(CASE c.code_$s " +
        (0 until PQ_K).map(j => s"WHEN $j THEN q.pd_${s}_$j").mkString(" ") + " END)"
    }.mkString(" + ")

  /** The whole pipeline as one generated SQL statement: per subspace,
    * init + 1 Lloyd iteration + encode; then the ADC table per query
    * and the scored top-k. */
  private def pqOracle: String = {
    val adExpr = pqAdCaseSql
    s"""WITH pts AS (${Points.embedPtsSql}),
       |${pqTrainSql()},
       |${pqQtabSql()},
       |scored AS (SELECT q.q_id, c.pid AS vec_id, sqrt($adExpr) AS ad
       |  FROM codes c CROSS JOIN qtab q WHERE c.pid != q.q_id)
       |SELECT q_id, vec_id, rank, ad FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY ad ASC, vec_id ASC) AS INT) AS rank
       |  FROM scored) WHERE rank <= $PQ_TOPK""".stripMargin
  }

  /** PQ distortion report — the index-quality metric a vector-search
    * deployment tracks per build: mean squared quantization error per
    * subspace (how much of each 8-dim slice the 4-bit code throws
    * away) plus the subspace's share of total distortion. Rising MSE
    * on re-train means the corpus drifted from the codebooks. One
    * projection computes all M per-subspace assigned distances via
    * the native PQMinDists expression (the fused triple loop the
    * encoder uses — the declarative array_min-over-128-distance-trees
    * form blew janino's 64 KB method limit and ran the whole stage
    * interpreted), ONE aggregate folds the M means — no per-subspace
    * jobs, no shuffle beyond the final 1-row agg. Rides the staged
    * codebooks. */
  def qPqDistortion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = Points.embeddings64(spark, dir)
    val codebooks = stagedCodebooks(pts, dir)
    val aggs = (0 until M).map(s =>
      round(avg(element_at(col("__d"), s + 1) * element_at(col("__d"), s + 1)), 6)
        .as(s"mse_$s"))
    val row = pts.select(
      graft.functions.GraftFunctions
        .pqMinDists(array(Points.embedDims.map(col): _*), codebooks).as("__d"))
      .agg(aggs.head, aggs.tail: _*).head()
    val mses = (0 until M).map(row.getDouble)
    val total = mses.sum
    (0 until M).map(s => (s, mses(s),
      r6(mses(s) / total)))
      .toDF("subspace", "mse", "share")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simsearch_pq" -> (qPq _),
    "simsearch_pq_distortion" -> (qPqDistortion _))

  val oracleSql: Map[String, String] = Map(
    "simsearch_pq" -> pqOracle,
    "simsearch_pq_distortion" -> {
      val rows = (0 until M).map(s =>
        s"SELECT $s AS subspace, round(avg(dist * dist), 6) AS mse FROM enc_$s")
        .mkString(" UNION ALL ")
      s"""WITH pts AS (${Points.embedPtsSql}),
         |${pqTrainSql()},
         |m AS ($rows),
         |t AS (SELECT sum(mse) AS total FROM m)
         |SELECT subspace, mse, round(mse / total, 6) AS share
         |FROM m CROSS JOIN t""".stripMargin
    })
}
