package graft.dedup

import graft.clustering.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("exact dedup keeps the lowest doc_id per content hash") {
    val out = Dedup.qExact(spark, sf)
    assert(out.count() > 0)
    assert(out.filter($"n_copies" < 1).count() == 0)
  }

  test("NFC/NFD variants and zero-width infiltration collide in exact dedup") {
    // "café" composed (NFC: e9) vs decomposed (NFD: 65 + combining
    // 0301) vs a copy with an infiltrated zero-width space: raw md5
    // sees three distinct texts; the normalized content hash must
    // merge all three (round-8 advice — these escape dedup silently
    // on a real multilingual crawl)
    val nfc = "caf\u00e9 fact"
    val nfd = "cafe\u0301 fact"
    val zw = "caf\u00e9 fact\u200b"
    assert(nfc != nfd && nfc != zw)
    val out = Dedup.exactOf(
      Seq((1L, nfc), (2L, nfd), (3L, zw), (4L, "different")).toDF("doc_id", "text"))
      .collect()
    assert(out.length == 2, s"three variants + one distinct => 2 groups: ${out.length}")
    val merged = out.find(_.getAs[Long]("n_copies") == 3L)
    assert(merged.isDefined && merged.get.getAs[Long]("keep_id") == 1L,
      "the NFC/NFD/zero-width family keeps doc 1")
    // ASCII corpus unchanged: normalized hash == raw md5 on plain text
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.t(spark, sf, "documents")
    val diff = docs.select(md5(col("text")).as("raw"),
        md5(graft.text.TextAnalysis.normalizeUnicode(col("text"))).as("norm"))
      .filter(col("raw") =!= col("norm")).count()
    assert(diff == 0, "testdata is ASCII: the stage must be an exact no-op")
  }

  test("an NFD re-encoded NEAR-dup is caught by the shingle families") {
    // round-10 advice: exact dedup normalized its content key, but the
    // minhash/simhash/gram/prefix shingles still hashed raw bytes — an
    // NFD re-encode of a near-duplicate (not byte-identical, so exact
    // dedup can't see it) evaded every near-dup operator. Shingles now
    // ride normalizeUnicode: doc 2 is doc 1 with ONE word changed
    // (genuine near-dup, word-Jaccard 9/11 ≈ 0.82) AND every accented
    // word re-encoded NFD. The LSH chain must pair them.
    val base = "café menú one two three four five six seven eight"
    val nfdNear = ("café menú one two three four five six " +
      "seven nine")
    assert(base != nfdNear)
    assert(java.text.Normalizer.normalize(nfdNear, java.text.Normalizer.Form.NFC)
      != nfdNear, "the variant must genuinely be NFD-encoded")
    assert(java.text.Normalizer.isNormalized(base, java.text.Normalizer.Form.NFC))
    val docs = Seq((1L, base), (2L, nfdNear),
      (3L, "totally unrelated words here")).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshOf(docs)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)),
      s"NFD near-dup must band and verify with its NFC twin: ${pairs.toSeq}")
    // simhash fingerprints of the two variants agree bitwise except
    // for the drift the one-word edit causes (hamming <= 12 gate)
    val fp = Dedup.simhashOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hd = fp(1L).zip(fp(2L)).count { case (a, b) => a != b }
    assert(hd <= 12, s"NFD re-encode must not blow up simhash drift: $hd bits")
  }

  test("minhash signature is invariant to word order and duplication") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "a b c"), (2L, "c b a a")).toDF("doc_id", "text")
    val sig = Dedup.signatures(docs).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) == sig(2L), "same word set must give identical signatures")
  }

  test("identical texts share every LSH band bucket") {
    val docs = Seq((1L, "x y z w"), (2L, "x y z w"), (3L, "totally different words here"))
      .toDF("doc_id", "text")
    val b = Dedup.bands(Dedup.signatures(docs))
    val shared = b.as("a").join(b.as("b"),
      org.apache.spark.sql.functions.col("a.band") === org.apache.spark.sql.functions.col("b.band") &&
        org.apache.spark.sql.functions.col("a.bh") === org.apache.spark.sql.functions.col("b.bh") &&
        org.apache.spark.sql.functions.col("a.doc_id") < org.apache.spark.sql.functions.col("b.doc_id"))
    assert(shared.count() == Dedup.BANDS, "pair (1,2) in all bands, 3 in none")
  }

  test("near-dup candidates have high jaccard on real data") {
    val out = Dedup.qMinhashLsh(spark, sf)
    assert(out.count() > 0)
    assert(out.filter($"j" < 0.8).count() == 0)
  }

  test("simhash is 64 bits and deterministic") {
    val out = Dedup.qSimhash(spark, sf).limit(5).collect()
    assert(out.forall(_.getString(1).length == 64))
    assert(out.forall(_.getString(1).forall(c => c == '0' || c == '1')))
  }

  test("simhash bits match an independent JVM md5 reference") {
    // pins the bit-extraction semantics (MSB-first over the digest's
    // first 16 hex chars) so the hoisted-md5 formulation can never
    // silently drift from the documented rule / the DuckDB oracle
    def refSimhash(text: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](64)
      text.split(" ").distinct.foreach { w =>
        val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
        for (b <- 0 until 64) {
          val nib = Integer.parseInt(hex.charAt(b / 4).toString, 16)
          counts(b) += (((nib >> (3 - b % 4)) & 1) * 2 - 1)
        }
      }
      counts.map(c => if (c > 0) '1' else '0').mkString
    }
    val texts = Seq((1L, "the quick brown fox"), (2L, "lorem ipsum dolor sit amet"),
      (3L, "a"), (4L, "x y z x y z"))
    val got = Dedup.simhashOf(texts.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, txt) => assert(got(id) == refSimhash(txt), s"doc $id") }
  }

  test("char-5-grams of short texts are empty, not descending-sequence garbage") {
    val docs = Seq((1L, "abc"), (2L, "abcd"), (3L, "abcde"), (4L, "abcdef"))
      .toDF("doc_id", "text")
    val out = docs.select($"doc_id", Dedup.gramsExpr.as("gs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).isEmpty && out(2L).isEmpty)
    assert(out(3L) == Seq("abcde"))
    assert(out(4L) == Seq("abcde", "bcdef"))
  }

  test("decontamination flags only non-benchmark docs with enough shared grams") {
    val out = Dedup.qDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.forall { case (doc, bench, n) => doc > 5 && bench <= 5 && n >= 20 })
    // spot-check one flagged pair against a direct recompute
    out.headOption.foreach { case (doc, bench, n) =>
      val g = (id: Long) => spark.sql(
        s"SELECT text FROM parquet.`$sf/documents.parquet` WHERE doc_id = $id")
        .head().getString(0).sliding(5).toSet
      assert(g(doc).intersect(g(bench)).size == n, s"pair ($doc, $bench)")
    }
  }

  test("dedup clusters reach a fixpoint and label by their minimum member") {
    val conv = Dedup.qDedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fixed = Dedup.labelPropagate(Dedup.candidates(spark, sf), 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv == fixed, "testdata stars converge within 3 sweeps, so the " +
      "converged operator must agree with the unrolled-oracle shape")
    assert(conv.forall { case (doc, c) => c <= doc }, "label = min member")
    assert(conv.values.toSet.subsetOf(conv.keySet), "cluster ids are members")
    // every candidate pair ends up in the same cluster
    val pairs = Dedup.candidates(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => conv(a) == conv(b) })
    // and no cache survives the eager convergence loop
    assert(spark.sharedState.cacheManager.isEmpty,
      "labelPropagateConverged must release every persist before returning")
  }

  test("converged propagation labels long chains that fixed sweeps mislabel") {
    // A diameter-8 chain: doc i is a candidate of doc i+1 only, via a
    // different band each hop — the cross-bucket topology the star
    // assumption misses. Min-label moves ONE hop per plain sweep, so
    // 3 fixed sweeps cannot carry label 1 to node 9...
    val chain = (1L to 8L).map(i => (i, i + 1)).toDF("ia", "ib")
    val fixed = Dedup.labelPropagate(chain, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed.values.toSet.size > 1,
      "diameter-8 chain must defeat 3 fixed sweeps (else this test is vacuous)")
    // ...while the converged operator (neighbor-min + path halving,
    // O(log d) sweeps) finds the single true component.
    val conv = Dedup.labelPropagateConverged(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv.keySet == (1L to 9L).toSet)
    assert(conv.values.forall(_ == 1L), s"one component labeled by its min: $conv")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("cluster keepers pick each family's max-quality member, ties by lowest id") {
    val ttr = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id",
        "round(cast(size(array_distinct(split(text, ' '))) as double) / size(split(text, ' ')), 6) as ttr")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val clusters = Dedup.qDedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val members = clusters.groupBy(_._2).map { case (c, ds) => c -> ds.map(_._1).toSet }
    val keepers = Dedup.qClusterKeepers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(keepers.map(_._1).toSet == members.keySet, "one keeper row per cluster")
    keepers.foreach { case (c, n, keeper, best) =>
      val ms = members(c)
      assert(n == ms.size, "n_members counts the family")
      assert(ms.contains(keeper), "keeper is a member")
      val maxTtr = ms.map(ttr).max
      assert(best == maxTtr, "best_ttr is the family max")
      assert(keeper == ms.filter(d => ttr(d) == maxTtr).min,
        "keeper = max quality, ties -> lowest doc_id")
    }
  }

  test("survivorship merges family metadata with a deterministic lang vote") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L)).toDF("doc_id", "cluster_id")
    val meta = Seq(
      (1L, "en", "web", 100L), (2L, "de", "web", 250L),
      (3L, "de", "books", 50L), (4L, "en", "web", 99L), // en/de tie 2-2
      (10L, "fr", "web", 10L), (11L, "fr", "news", 20L))
      .toDF("doc_id", "lang", "source", "n_chars")
    val out = Dedup.survivorshipOf(clusters, meta).collect()
      .map(r => r.getLong(0) -> r).toMap
    val f = out(1L)
    assert(f.getAs[Long]("n_members") == 4L)
    assert(f.getAs[Long]("first_id") == 1L)
    assert(f.getAs[Long]("n_sources") == 2L)
    assert(f.getAs[Long]("max_n_chars") == 250L)
    assert(f.getAs[String]("lang_consensus") == "de",
      "2-2 lang tie must break lexicographically, not arbitrarily")
    assert(out(10L).getAs[String]("lang_consensus") == "fr")
    assert(out(10L).getAs[Long]("n_sources") == 2L)
  }

  test("no physical plan in the dedup family contains a cartesian product") {
    for ((_, fn) <- Dedup.queries) {
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(400))
    }
  }

  test("sorted neighborhood pairs prefix-sharing near-dups, skips far blocks") {
    import org.apache.spark.sql.functions._
    val base = "alpha beta gamma delta epsilon zeta eta theta" // 16-char prefix "alpha beta gamma"
    val docs = Seq(
      (1L, base),
      (2L, base + " iota"), // same block, jaccard 8/9 >= 0.8
      (3L, "zebra yak xylophone wombat viper urchin")) // different block
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodOf(docs)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("line dedup: exact copy rebuilds to null, novel tail survives") {
    import org.apache.spark.sql.functions._
    val w24 = (1 to 24).map(i => s"w$i").mkString(" ") // 2 segments of 12
    val tail12 = (101 to 112).map(i => s"n$i").mkString(" ")
    val docs = Seq(
      (1L, w24), // keeps both segments
      (2L, w24), // exact copy: keeps nothing
      (3L, (1 to 12).map(i => s"w$i").mkString(" ") + " " + tail12))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedupOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_kept") == 2L)
    assert(out(2L).getAs[Long]("n_kept") == 0L)
    assert(out(2L).getAs[String]("clean_hash") == null,
      "an all-duplicate doc must rebuild to NULL, not ''")
    assert(out(3L).getAs[Long]("n_kept") == 1L)
    val expected = spark.sql(s"SELECT md5('$tail12')").collect()(0).getString(0)
    assert(out(3L).getAs[String]("clean_hash") == expected,
      "doc 3's rebuild must be exactly its novel tail segment")
  }

  test("cross-source matrix: canonical source order, cells partition the verified pairs") {
    val rows = Dedup.qCrossSourceMatrix(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("source_a") <= r.getAs[String]("source_b"),
        "cells are canonically ordered")
      assert(r.getAs[Long]("n_pairs") > 0)
    }
    val total = Dedup.stagedVerifiedPairs(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == total,
      "every verified pair lands in exactly one cell")
  }
}
