package graft

import graft.clustering.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI runs on files in the reference's dataset format and
  * shapes (ReferenceData) — a reference user's exact workflow (dataset
  * csv in, metrics csv out). */
class MainSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def lines(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().toSeq

  test("kmeans CLI on iris.txt writes run,iter,sse,best,map,reduce,ms per iteration") {
    val out = java.io.File.createTempFile("iris_kmeans", ".csv").getPath
    Main.run(spark, "kmeans", ReferenceData.iris.path,
      numIter = 2, numK = 3, out, numRun = 2, rest = Array.empty)
    val ls = lines(out)
    assert(ls.length == 2 * 2 + 1, s"2 runs x 2 iters + total line: $ls")
    assert(ls.last.endsWith("ms"))
    val fields = ls.init.map(_.split(","))
    // the reference's full print_best column set (kmeans.java:261-270):
    // run, iter, objective, best, map_t, reduce_t, iteration time
    assert(fields.forall(_.length == 7))
    // stage wall times are non-negative and bounded by... nothing
    // deterministic, but map + reduce must not exceed ~the iteration
    // wall by more than scheduler slop; assert shape only
    assert(fields.forall(f => f(4).toLong >= 0 && f(5).toLong >= 0))
    assert(fields.forall(f => f(6).toLong >= 0))
    // objective never increases within a run's best column
    val bests = fields.groupBy(_.head).values
    assert(bests.forall(b => b.map(_(3).toDouble).sliding(2)
      .forall { case Seq(a, c) => c <= a; case _ => true }))
  }

  test("gka CLI on iris.txt honors the reference's extra args") {
    val out = java.io.File.createTempFile("iris_gka", ".csv").getPath
    Main.run(spark, "gka", ReferenceData.iris.path,
      numIter = 2, numK = 3, out, numRun = 1,
      rest = Array("3", "0.5", "2.0"))
    val ls = lines(out)
    assert(ls.length == 2 + 1)
    assert(ls.head.split(",").length == 5)
  }

  test("pso CLI on iris.txt honors the reference's extra args") {
    val out = java.io.File.createTempFile("iris_pso", ".csv").getPath
    Main.run(spark, "pso", ReferenceData.iris.path,
      numIter = 2, numK = 3, out, numRun = 1,
      rest = Array("3", "2.0", "2.0", "0.9", "0.4"))
    val ls = lines(out)
    assert(ls.length == 2 + 1)
    assert(ls.head.split(",").length == 5)
  }

  test("kmeans CLI on shuttle.txt (the reference's biggest dataset, 43.5k x 10 cols)") {
    // the reference parses EVERY comma-separated column as a feature
    // (kmeans.java:212-216, the class label included) — so a 10-wide
    // point set; this closes the fidelity gap on the reference's own
    // largest file
    val out = java.io.File.createTempFile("shuttle_kmeans", ".csv").getPath
    Main.run(spark, "kmeans", ReferenceData.shuttle.path,
      numIter = 2, numK = 5, out, numRun = 1, rest = Array.empty)
    val ls = lines(out)
    assert(ls.length == 2 + 1, s"2 iters + total line: $ls")
    val fields = ls.init.map(_.split(","))
    assert(fields.forall(_.length == 7))
    // objective is finite and non-increasing across the run
    val sses = fields.map(_(2).toDouble)
    assert(sses.forall(s => !s.isNaN && !s.isInfinite && s > 0))
    assert(sses.sliding(2).forall { case Seq(a, b) => b <= a; case _ => true })
  }

  test("gka + pso CLI on User-locations-Finland (2-dim, 13467 points)") {
    val fin = ReferenceData.finland.path
    val outG = java.io.File.createTempFile("fin_gka", ".csv").getPath
    Main.run(spark, "gka", fin, numIter = 2, numK = 4, outG, numRun = 1,
      rest = Array("3", "0.5", "2.0"))
    val lg = lines(outG)
    assert(lg.length == 2 + 1 && lg.head.split(",").length == 5)
    val outP = java.io.File.createTempFile("fin_pso", ".csv").getPath
    Main.run(spark, "pso", fin, numIter = 2, numK = 4, outP, numRun = 1,
      rest = Array("3", "2.0", "2.0", "0.9", "0.4"))
    val lp = lines(outP)
    assert(lp.length == 2 + 1 && lp.head.split(",").length == 5)
    assert(lp.init.map(_.split(",")(2).toDouble).forall(s => !s.isNaN && s >= 0))
  }

  test("gka + pso CLI on shuttle.txt (all three algorithms on the reference's biggest file)") {
    val sh = ReferenceData.shuttle.path
    val outG = java.io.File.createTempFile("shuttle_gka", ".csv").getPath
    Main.run(spark, "gka", sh, numIter = 2, numK = 5, outG, numRun = 1,
      rest = Array("3", "0.5", "2.0"))
    val lg = lines(outG)
    assert(lg.length == 2 + 1 && lg.head.split(",").length == 5)
    assert(lg.init.map(_.split(",")(3).toDouble).forall(s => !s.isNaN && s > 0))
    val outP = java.io.File.createTempFile("shuttle_pso", ".csv").getPath
    Main.run(spark, "pso", sh, numIter = 2, numK = 5, outP, numRun = 1,
      rest = Array("3", "2.0", "2.0", "0.9", "0.4"))
    val lp = lines(outP)
    assert(lp.length == 2 + 1 && lp.head.split(",").length == 5)
    assert(lp.init.map(_.split(",")(2).toDouble).forall(s => !s.isNaN && s >= 0))
  }

  test("kmeans CLI multi-run best-of on User-locations-Finland (all three algorithms on both files)") {
    val fin = ReferenceData.finland.path
    val out = java.io.File.createTempFile("fin_kmeans", ".csv").getPath
    Main.run(spark, "kmeans", fin, numIter = 2, numK = 4, out, numRun = 2,
      rest = Array.empty)
    val ls = lines(out)
    assert(ls.length == 2 * 2 + 1, s"2 runs x 2 iters + total line: $ls")
    assert(ls.last.endsWith("ms"))
    val fields = ls.init.map(_.split(","))
    assert(fields.forall(_.length == 7))
    // each run's best column is its own running min (the reference's
    // per-run best-of contract, same check as the iris case) and
    // never exceeds that iteration's SSE
    val byRun = fields.groupBy(_.head).values
    assert(byRun.forall(b => b.map(_(3).toDouble).sliding(2)
      .forall { case Seq(a, c) => c <= a; case _ => true }))
    assert(fields.forall(f => f(3).toDouble <= f(2).toDouble))
  }

  test("report CLI commits the four release-report CSVs in one atomic bundle") {
    val out = java.nio.file.Files.createTempDirectory("graft_report").toString
    Main.reportRun(spark, "/root/testdata/sf0.001", out)
    // consumers resolve CURRENT -> manifest -> exactly the bundle's files
    val snap = graft.sources.TxTable.snapshot(out)
    assert(snap.isDefined, "report bundle must be committed")
    for (name <- Seq("dataset_card", "data_checks", "corpus_report", "gopher_rules")) {
      val files = snap.get.files.filter(_.startsWith(s"data-report-$name-"))
      assert(files.length == 1, s"$name: expected one csv in the manifest")
      val ls = lines(s"$out/${files.head}")
      assert(ls.length >= 2, s"$name: header + at least one row, got ${ls.length}")
    }
  }

  test("clean CLI deduplicates and quality-gates a jsonl corpus end to end") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_clean").toString
    // stage the testdata documents as a jsonl corpus (a user's ingest)
    graft.sources.JsonDocsSource.write(
      graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text"),
      s"$tmp/in")
    val line = cleanLine(s"$tmp/in", s"$tmp/out")
    val out = graft.sources.JsonDocsSource.readCommitted(spark, s"$tmp/out")
    assert(out.columns.sorted.toSeq == Seq("doc_id", "text"))
    val nOut = out.count()
    val expected = graft.pipeline.CleanCorpus
      .qClean(spark, "/root/testdata/sf0.001").count()
    assert(nOut == expected, "CLI output matches the registered pipeline")
    val nIn = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents").count()
    assert(line.startsWith(s"[clean] kept $nOut of $nIn documents -> $tmp/out (version "), line)
    assert(out.select("doc_id").distinct().count() == nOut)
  }

  test("clean CLI crash point: a re-clean dying before the swap leaves v0 intact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_crash").toString
    // 20+ words, low stopword density: must pass the quality gate;
    // 1 and 2 identical so the dedup stage also engages
    val long1 = (1 to 25).map(i => s"alpha$i").mkString(" ")
    val long2 = (1 to 25).map(i => s"omega$i").mkString(" ")
    graft.sources.JsonDocsSource.write(
      Seq((1L, long1), (2L, long1), (3L, long2)).toDF("doc_id", "text"),
      s"$tmp/in")
    Main.cleanRun(spark, s"$tmp/in", s"$tmp/out")
    val v0 = graft.sources.JsonDocsSource.readCommitted(spark, s"$tmp/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(v0.nonEmpty)
    // a second clean run crashes AFTER staging its files and writing
    // the manifest but BEFORE the pointer swap (the TxTableSpec crash
    // point, exercised on the CLI's own output table): readers must
    // stay on the complete v0 corpus
    Seq((9L, "orphaned half-written run")).toDF("doc_id", "text")
      .write.json(s"$tmp/out/data-json-crashed")
    graft.sources.TxTable.prepare(s"$tmp/out",
      Seq("data-json-crashed").flatMap { d =>
        Option(new java.io.File(s"$tmp/out/$d").listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".json")).map(f => s"$d/${f.getName}")
      })
    val afterCrash = graft.sources.JsonDocsSource.readCommitted(spark, s"$tmp/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(afterCrash == v0, "uncommitted staged files must be invisible")
    // and a FULL re-run commits v1+ on top, replacing the snapshot
    Main.cleanRun(spark, s"$tmp/in", s"$tmp/out")
    val recleaned = graft.sources.JsonDocsSource.readCommitted(spark, s"$tmp/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(recleaned == v0, "idempotent re-clean commits the same corpus")
  }

  /** The `[clean]` line a cleanRun prints. */
  private def cleanLine(in: String, out: String): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Main.cleanRun(spark, in, out))
    buf.toString("UTF-8").linesIterator.filter(_.startsWith("[clean]")).toSeq.last
  }

  test("clean CLI counts a corrupt-only corpus as kept 0 of 0") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/in.jsonl"),
      "{not json\n{\"doc_id\": \"x\", \"text\": \"typed wrong\"}\n")
    assert(cleanLine(s"$tmp/in.jsonl", s"$tmp/out").startsWith("[clean] kept 0 of 0 documents"))
  }

  test("clean CLI counts a corpus that fails the gate as kept 0 of N") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_gated").toString
    // every doc is shorter than the 20-word gate
    graft.sources.JsonDocsSource.write(
      (1L to 5L).map(i => (i, s"short doc $i")).toDF("doc_id", "text"), s"$tmp/in")
    assert(cleanLine(s"$tmp/in", s"$tmp/out").startsWith("[clean] kept 0 of 5 documents"))
  }

  test("unknown algorithm fails loudly") {
    val out = java.io.File.createTempFile("bad", ".csv").getPath
    val e = intercept[RuntimeException] {
      Main.run(spark, "dbscan", ReferenceData.iris.path,
        1, 2, out, 1, Array.empty)
    }
    assert(e.getMessage.contains("unknown algorithm"))
  }
}
