package graft.search

import graft.clustering.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class SimSearchSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("brute-force topk returns k ranked neighbors per query") {
    val out = SimSearch.qTopK(spark, sf).cache()
    val perQ = out.groupBy("q_id").count().select("count").as[Long].collect()
    assert(perQ.forall(_ == 10))
    // ranks are 1..10 and cosine non-increasing with rank
    val one = out.filter($"q_id" === 1).orderBy("rank").select("cs").as[Double].collect()
    assert(one.zip(one.tail).forall { case (a, b) => b <= a })
    out.unpersist()
  }

  test("mrr: one row per truth query, rr consistent with recall hits") {
    val mrr = SimSearch.qMrr(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val recall = SimSearch.qRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(mrr.keySet == recall.keySet && mrr.nonEmpty)
    mrr.foreach { case (q, (fhr, rr)) =>
      // a query with any recall hit has a first-hit rank in [1, k]
      if (recall(q) > 0) assert(fhr >= 1 && fhr <= 10 &&
        math.abs(rr - (math.rint(1e6 / fhr) / 1e6)) < 1e-9)
      else assert(fhr == 0 && rr == 0.0)
    }
  }

  test("ann results are a subset of the query's sign bucket") {
    val out = SimSearch.qAnn(spark, sf)
    assert(out.count() > 0)
    assert(out.filter($"rank" > 5).count() == 0)
  }

  test("ivf search returns ranked results from probed cells only") {
    val out = SimSearch.qIvf(spark, sf).cache()
    assert(out.count() > 0)
    assert(out.filter($"rank" > 5 || $"rank" < 1).count() == 0)
    val one = out.filter($"q_id" === 1).orderBy("rank").select("cs").as[Double].collect()
    assert(one.zip(one.tail).forall { case (a, b) => b <= a }, "cosine non-increasing in rank")
    out.unpersist()
  }

  test("ivf releases every cache it creates (no index leak)") {
    SimSearch.qIvf(spark, sf).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "qIvf must unpersist its point and cell caches before returning")
  }

  test("pq search returns k ranked codes-scored rows per query and releases its caches") {
    val out = PQ.queries("simsearch_pq")(spark, sf)
    val rows = out.collect()
    assert(rows.length > 0 && rows.length % 5 == 0, "5 ranked rows per query")
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5))
      val ads = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("ad"))
      assert(ads.zip(ads.tail).forall { case (a, b) => a <= b },
        "approx distance non-decreasing in rank")
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "qPq must unpersist its point/assignment/codes caches before returning")
  }

  test("ivfpq returns k ranked rows per query and releases its index cache") {
    val rows = IvfPq.queries("simsearch_ivfpq")(spark, sf).collect()
    assert(rows.length > 0 && rows.length % 5 == 0)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5))
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "qIvfPq must unpersist its point and index caches before returning")
  }

  test("ivfpq_residual returns 5 ranked rows per query, no self match, ad non-decreasing") {
    val rows = IvfPq.queries("simsearch_ivfpq_residual")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to 5), s"q=$q ranks")
      assert(!byRank.exists(_.getAs[Long]("vec_id") == q), s"q=$q matched itself")
      val ads = byRank.map(_.getAs[Double]("ad"))
      assert(ads.zip(ads.tail).forall { case (a, b) => a <= b }, s"q=$q ad decreases")
    }
  }

  test("a second ivfpq call reads the staged index: no Memo build") {
    IvfPq.qIvfPq(spark, sf).collect()
    val m0 = graft.Memo.misses
    IvfPq.qIvfPq(spark, sf).collect()
    assert(graft.Memo.misses == m0)
  }

  test("the ivfpq sweep at the shipped config is the recall curve's k=5 rows") {
    val at5 = IvfPq.qIvfPqRecallCurve(spark, sf).collect()
      .filter(_.getAs[Int]("k") == 5)
      .map(r => r.getAs[String]("variant") -> r.getAs[Double]("recall_at_k")).toMap
    assert(IvfPqSweep.recallAt(spark, sf, 16, SimSearch.NPROBE) ==
      ((at5("ivfpq"), at5("ivfpq_residual"))))
  }

  test("recall@k counts zero matches when a result shares no row with the truth") {
    val truth = Seq((1L, 7L, 1), (1L, 8L, 2)).toDF("q_id", "vec_id", "trank")
    val none = Seq.empty[(Long, Long, Int)].toDF("q_id", "vec_id", "rank")
    val rows = SimSearch.recallAtK(truth, Seq("ivf" -> none), 2, 1L)
    assert(rows == Seq(("ivf", 1, 0L, 0.0), ("ivf", 2, 0L, 0.0)))
  }

  test("ann recall measurement is a valid fraction over the brute-force truth") {
    val rows = SimSearch.qRecall(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("k") == 5, "truth is always brute top-5")
      val hit = r.getAs[Long]("n_hit")
      assert(hit >= 0 && hit <= 5)
      val rec = r.getAs[Double]("recall_at_k")
      assert(rec >= 0.0 && rec <= 1.0 && math.abs(rec - hit / 5.0) < 1e-9)
    }
  }

  test("ndcg is bounded by [0,1], consistent with its dcg, and tied to recall") {
    val ndcg = SimSearch.qNdcg(spark, sf).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Double]("dcg_at_k"), r.getAs[Double]("ndcg_at_k"))).toMap
    val recall = SimSearch.qRecall(spark, sf).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_hit")).toMap
    assert(ndcg.nonEmpty && ndcg.keySet == recall.keySet)
    val idcg = (1 to 5).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0))).sum
    ndcg.foreach { case (q, (dcg, n)) =>
      assert(n >= 0.0 && n <= 1.0, s"q=$q ndcg out of range: $n")
      assert(math.abs(n - dcg / idcg) < 1e-5, s"q=$q ndcg != dcg/IDCG")
      // binary relevance: a positive NDCG needs at least one truth hit and
      // zero hits force NDCG 0 — the graded metric must agree with recall
      assert((n > 0.0) == (recall(q) > 0), s"q=$q ndcg $n vs n_hit ${recall(q)}")
      // each of the n_hit relevant results earns at most the rank-1 credit
      // (1.0) and at least the rank-k credit (1/log2(k+1))
      assert(dcg <= recall(q) * 1.0 + 1e-9 && dcg * math.log(6.0) / math.log(2.0) + 1e-9 >= recall(q),
        s"q=$q dcg $dcg inconsistent with ${recall(q)} hits")
    }
  }

  test("mmr picks k distinct candidates from the top-10, leads with pure relevance") {
    val top = SimSearch.qTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"), r.getAs[Int]("rank")))
    val top10 = top.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val best = top.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
    val byQ = SimSearch.qMmr(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("mmr_rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cs"), r.getAs[Double]("mmr_score")))
      .groupBy(_._1)
    assert(byQ.keySet == best.keySet)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 3), "dense mmr ranks")
      assert(rs.map(_._3).distinct.length == 3, "no candidate picked twice")
      assert(rs.forall(r => top10(q).contains(r._3)), "picks come from the top-10 pool")
      val first = rs.find(_._2 == 1).get
      assert(first._3 == best(q), "rank 1 is the plain relevance argmax")
      assert(math.abs(first._5 - first._4) < 1e-9, "rank-1 score is its cosine")
      // later ranks: score = 0.7*cs - 0.3*pen with pen a cosine in [-1,1]
      rs.filter(_._2 > 1).foreach { r =>
        assert(math.abs(r._5 - 0.7 * r._4) <= 0.3 + 1e-6, s"q=$q score out of band: $r")
      }
    }
  }

  test("cosine of a vector with itself is 1") {
    import org.apache.spark.sql.functions._
    val df = Seq(Tuple1(Array(1.0f, 2.0f, 3.0f))).toDF("embedding")
    val cs = df.select(graft.functions.VectorOps.cosine("embedding", "embedding")).as[Double].head()
    assert(math.abs(cs - 1.0) < 1e-9)
  }

  test("balanced sample caps every cell, covers every non-empty cell, and releases caches") {
    val cap = 3
    val out = SimSearch.qBalancedSample(spark, sf, cap).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    val perCell = out.groupBy(_._1)
    assert(perCell.values.forall(_.length <= cap), "per-cell cap holds")
    perCell.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), "ranks dense from 1")
    }
    // every non-empty trained cell is represented (cap >= 1 keeps one)
    val cells = SimSearch.qIvfStats(spark, sf).collect().map(_.getInt(0)).toSet
    assert(perCell.keySet == cells, s"cells ${cells} vs sampled ${perCell.keySet}")
    // sample ids are a subset of the corpus and distinct
    assert(out.map(_._2).distinct.length == out.length)
    assert(spark.sharedState.cacheManager.isEmpty, "training cache released")
  }
}
