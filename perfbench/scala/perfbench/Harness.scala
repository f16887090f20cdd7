package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Canonical, Main, Memo, SparkEntry}
import graft.dedup.Dedup
import graft.pipeline.CleanCorpus
import graft.relational.{Relational, TpchClosure}
import graft.search.IvfPq
import graft.sources.JsonDocsSource

/** One benchmark run in one cold JVM. perfbench/run.py launches it,
  * then checks the outputs it leaves and prints the metrics.
  *
  * Usage: Harness <workload> <inDir> <outDir> <seconds> <trace 0|1>
  *                <seed> <master> <shufflePartitions>
  *
  * It records when the SparkSession was ready, then drives one
  * workload through graft's public entry points: a cold first
  * operation, then a closed loop (one client) for `seconds`. With
  * trace 1 it instead runs traced operations a fixed number of times,
  * so layer counts repeat exactly for a seed, pairs them with the same
  * operations untraced for the tracing overhead, and records per-layer
  * metrics from outside the program.
  * Everything it learns goes to <outDir>/result.json. */
object Harness {

  final class Run(val spark: SparkSession, val in: String, val out: String,
                  val seconds: Double, val tracer: Option[Tracer], val cores: Int,
                  val seed: Long) {
    /** Wall of each measured operation; None for one that failed. */
    val opMs = mutable.ArrayBuffer.empty[Option[Double]]
    var attempted = 0
    var failed = 0
    var coldMs = 0.0
    var items = 0.0
    var windowMs = 0.0
    val layer = mutable.LinkedHashMap.empty[String, Double]
    /** (untraced, traced) wall of the same operation, per pair. */
    val overhead = mutable.ArrayBuffer.empty[(Double, Double)]

    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $what failed: $e")
          e.printStackTrace()
          None
      }
    }

    def check(ok: Boolean, what: String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
    }

    def span[T](name: String)(body: => T): T = tracer match {
      case Some(t) => t.span(name)(body)
      case None => body
    }

    def traced[T](phase: String)(body: => T): T = tracer match {
      case Some(t) => t.traced(phase)(body)
      case None => body
    }

    def write(name: String, text: String): Unit = {
      val p = Paths.get(out, "check", name)
      Files.createDirectories(p.getParent)
      Files.write(p, text.getBytes(UTF_8))
    }
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Time one operation; a failure is recorded as a missing latency. */
  def timedOp[T](r: Run, what: String)(body: => T): (Option[T], Double) = {
    val t0 = System.nanoTime()
    val v = r.attempt(what)(body)
    (v, ms(t0))
  }

  /** The measured window: `warmup` unmeasured operations, then `op`
    * back to back until `seconds` have passed, at least `minOps` times.
    * `op` returns the items it did. Operations keep speeding up while
    * the JIT warms; the warm-up takes the steepest part of that curve,
    * whose pace varies from JVM to JVM, out of the median, and each
    * workload's `minOps` is set to outlast the window on its own, so the
    * median covers the same operations in every run instead of flipping
    * with how many happened to fit. */
  def window(r: Run, warmup: Int, minOps: Int)(op: Int => Double): Unit = {
    (0 until warmup).foreach(i => timedOp(r, s"warm-up operation $i")(op(i)))
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || System.nanoTime() - t0 < r.seconds * 1e9) {
      val (v, t) = timedOp(r, s"operation $i")(op(i))
      r.opMs += v.map(_ => t)
      v.foreach(r.items += _)
      i += 1
    }
    r.windowMs = ms(t0)
  }

  /** One pair of the traced run's overhead figure: the same operation
    * untraced and traced (booked to `phase`), the order alternating
    * with `i` so warm-up and drift fall on both sides. */
  def overheadPair(r: Run, i: Int, phase: String)(op: => Any): Unit = {
    def untraced(): Double = timedOp(r, s"untraced operation $i")(op)._2
    def traced(): Double = timedOp(r, s"traced operation $i")(r.traced(phase)(op))._2
    r.overhead += (if (i % 2 == 0) { val u = untraced(); (u, traced()) }
                   else { val t = traced(); (untraced(), t) })
  }

  /** The traced run's loop: one untraced warm-up, then `pairs` pairs. */
  def tracedPairs(r: Run, pairs: Int, phase: String = "ops")(op: => Any): Unit = {
    timedOp(r, "warm-up operation")(op)
    (0 until pairs).foreach(i => overheadPair(r, i, phase)(op))
  }

  // ---- canonical result rendering (graft.Canonical, as tools/check.py) --

  /** Columns sorted by name, and each row's cells in that order. */
  def canonical(cols: Seq[String], rows: Array[Row]): (Seq[String], Seq[String]) = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    (order.map(cols), rows.toSeq.map(r => order.map(i => Canonical.renderCell(r.get(i))).mkString("\u001f")).sorted)
  }

  def canonicalJson(cols: Seq[String], rows: Array[Row]): String = {
    val (c, rs) = canonical(cols, rows)
    Json.obj("cols" -> c, "rows" -> rs)
  }

  // ---- counters the program exposes ------------------------------------

  def stagedDirs(): Long = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.filter(_.getFileName.toString.startsWith("graft-staged")).count()
    finally s.close()
  }

  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".json"))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  // ---- workloads --------------------------------------------------------

  /** JSONL ingest -> exact dedup -> MinHash-LSH -> quality gate ->
    * transactional commit -> read-back, through `graft.Main clean`. */
  def corpusClean(r: Run): Unit = {
    val spark = r.spark
    val input = s"${r.in}/corpus.jsonl"
    val nDocs = {
      val s = Files.lines(Paths.get(input)); try s.count().toDouble finally s.close()
    }
    val dirs = mutable.ArrayBuffer.empty[String]
    def nextDir(): String = { val d = s"${r.out}/clean/${dirs.size}"; dirs += d; d }
    def clean(): Double = { Main.cleanRun(spark, input, nextDir()); nDocs }

    // the stage-by-stage pass whose spans give per-stage self times:
    // each stage is materialized at its boundary through its public
    // function, and cleanOf reuses the materialized LSH candidates
    def stagedClean(): Double = r.span("pipeline.clean_pass") {
      val dir = nextDir()
      val docs = r.span("sources.jsonl_read") {
        val d = JsonDocsSource.docs(spark, input).cache(); d.count(); d
      }
      r.span("dedup.exact") { Dedup.exactOf(docs).count() }
      val (cands, nCands) = r.span("dedup.lsh_candidates") {
        val c = Dedup.candidatesOf(docs).cache(); (c, c.count())
      }
      val pairs = r.span("dedup.lsh") { Dedup.minhashLshFrom(docs, cands).count() }
      val kept = r.span("pipeline.clean") {
        val k = CleanCorpus.cleanOf(docs, Some(cands)).select("doc_id").cache(); k.count(); k
      }
      r.span("sources.commit") { JsonDocsSource.commitJson(docs.join(kept, "doc_id"), dir) }
      val nOut = r.span("sources.read_back") { JsonDocsSource.readCommitted(spark, dir).count() }
      docs.unpersist(); cands.unpersist(); kept.unpersist()
      r.layer("dedup.lsh_candidates") = nCands.toDouble
      r.layer("dedup.lsh_pairs") = pairs.toDouble
      r.layer("dedup.lsh_precision") = if (nCands > 0) pairs.toDouble / nCands else 0.0
      r.layer("pipeline.kept_docs") = nOut.toDouble
      r.layer("sources.write_amp") = dirBytes(dir).toDouble / new File(input).length
      nDocs
    }

    val (_, cold) = timedOp(r, "cold clean")(r.traced("build")(clean()))
    r.coldMs = cold
    if (r.tracer.isEmpty) window(r, 3, 5)(_ => clean())
    else {
      // engine and module figures: the same Main.cleanRun the untraced
      // run times, traced twice
      (0 until 2).foreach(i => timedOp(r, s"traced clean $i")(r.traced("ops")(clean())))
      // per-stage self times and the tracing overhead: the staged pass,
      // untraced then traced
      tracedPairs(r, 2, "stages")(stagedClean())
      val t = r.tracer.get
      val self = t.selfTimes("stages")
      def selfS(spans: String*): Double =
        spans.map(self.getOrElse(_, 0L)).sum / 1e3 / t.opsIn("stages")
      r.layer("sources.jsonl_read_s") = selfS("sources.jsonl_read")
      r.layer("sources.commit_s") = selfS("sources.commit")
      r.layer("dedup.exact_s") = selfS("dedup.exact")
      r.layer("dedup.lsh_s") = selfS("dedup.lsh_candidates", "dedup.lsh")
      r.layer("pipeline.clean_s") = selfS("pipeline.clean")
    }

    // outputs, checked outside the timed region: every pass committed
    // the same documents, and the last one goes to the oracle check
    val ids = dirs.toSeq.map(d => JsonDocsSource.readCommitted(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    ids.zipWithIndex.tail.foreach { case (s, i) =>
      r.check(s == ids.head, s"clean pass $i committed ${s.size} ids, pass 0 ${ids.head.size}")
    }
    r.write("corpus_ids.json", Json.value(ids.last))
    r.write("corpus_oracle.sql", SparkEntry.oracleSql("pipeline_clean_corpus"))
  }

  /** IVF-PQ over the embeddings table: one cold residual call that
    * trains, encodes and stages the index, then staged residual calls,
    * each of which must return the cold call's rows. */
  def retrieval(r: Run): Unit = {
    val spark = r.spark
    val dir = r.in
    def call(name: String, f: (SparkSession, String) => DataFrame): Array[Row] = {
      val df = r.span(s"search.$name.build")(f(spark, dir))
      r.span(s"search.$name.action")(df.collect())
    }
    def residual(): Array[Row] = call("residual", IvfPq.qIvfPqResidual)

    val (s0, m0) = (stagedDirs(), Memo.misses)
    val (coldRows, cold) = timedOp(r, "cold residual call")(r.traced("build")(residual()))
    r.coldMs = cold
    val (s1, m1) = (stagedDirs(), Memo.misses)
    val ref = coldRows.map(rs => canonical(Seq("q_id", "vec_id", "rank", "ad"), rs)._2)
    def same(rows: Array[Row]): Boolean =
      ref.contains(canonical(Seq("q_id", "vec_id", "rank", "ad"), rows)._2)
    val nQueries = coldRows.map(_.map(_.getLong(0)).distinct.length.toDouble).getOrElse(0.0)
    // each query: ranks 1..5, distinct neighbours other than itself,
    // ADC distance non-decreasing with rank
    coldRows.foreach(_.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getInt(2))
      val ads = byRank.map(_.getDouble(3))
      r.check(byRank.map(_.getInt(2)).toSeq == (1 to 5) &&
        byRank.map(_.getLong(1)).distinct.length == 5 &&
        !byRank.exists(_.getLong(1) == q) &&
        ads.zip(ads.tail).forall { case (x, y) => x <= y },
        s"residual top-5 of query $q is malformed")
    })
    val checked = mutable.ArrayBuffer.empty[Boolean]
    def op(): Double = { val rows = residual(); checked += same(rows); nQueries }

    if (r.tracer.isEmpty) window(r, 15, 20)(_ => op())
    else tracedPairs(r, 5)(op())
    val (s2, m2) = (stagedDirs(), Memo.misses)
    checked.zipWithIndex.foreach { case (ok, i) => r.check(ok, s"residual call $i differs from the cold call") }
    r.layer("staged.builds_build") = (s1 - s0).toDouble
    r.layer("memo.builds_build") = (m1 - m0).toDouble
    r.layer("staged.builds_query") = (s2 - s1).toDouble
    r.layer("memo.builds_query") = (m2 - m1).toDouble

    r.tracer.foreach { t =>
      // the default (plain) searcher re-encodes on every call
      val walls = (0 until 2).map { i =>
        timedOp(r, s"default call $i")(t.traced("default")(call("default", IvfPq.qIvfPq)))._2
      }
      r.layer("search.default_query_ms") = median(walls)
      r.layer("search.default_query_jobs") = t.jobsOf("default").size / 2.0
      r.layer("search.query_jobs") = t.jobsOf("ops").size.toDouble / t.opsIn("ops")
      r.layer("search.build_s") = cold / 1e3

      // recall@k of both searchers against exact L2 truth; its DuckDB
      // oracle takes ~25 s on 4 cores, so only the traced run pays for it
      timedOp(r, "recall curve")(IvfPq.qIvfPqRecallCurve(spark, dir).collect())._1.foreach { rows =>
        r.write("recall_curve.json", canonicalJson(Seq("variant", "k", "n_matched", "recall_at_k"), rows))
        rows.filter(_.getInt(1) == 5).foreach { row =>
          val key = if (row.getString(0) == "ivfpq") "search.recall_at_5" else "search.recall_at_5_residual"
          r.layer(key) = row.getDouble(3)
        }
      }
      r.write("recall_oracle.sql", SparkEntry.oracleSql("simsearch_ivfpq_recall_curve"))
    }
  }

  /** The analytics workload's fixed slice of the relational registry
    * (`Relational` + `TpchClosure`): TPC-H aggregates and multi-way
    * joins, q21's correlated EXISTS chain, and event-stream windows. */
  val analyticsQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q6_revenue_delta", "q18_large_orders",
    "q21_waiting_suppliers", "topk_per_key", "events_sessionize")

  /** One client runs the query slice per pass, in a seed-set order: a
    * cold pass, an unmeasured warm-up pass, then at least three whole
    * warm passes, more while the window lasts. Each call is the registry function plus a collect of
    * its result. The measured operation is a warm pass: a median over
    * single calls falls between two of six queries of different cost
    * and jumps with the order, while a pass sums all six. */
  def analytics(r: Run): Unit = {
    val spark = r.spark
    val dir = r.in
    val registry = Relational.queries ++ TpchClosure.queries
    val names = new scala.util.Random(r.seed).shuffle(analyticsQueries)
    // every call's result, rendered and compared after the timed region
    val results = mutable.ArrayBuffer.empty[(String, Seq[String], Array[Row])]
    def query(name: String): Double = {
      val df = r.span(s"relational.$name.build")(registry(name)(spark, dir))
      val rows = r.span(s"relational.$name.action")(df.collect())
      results += ((name, df.columns.toSeq, rows))
      1.0
    }
    def pass(): Unit = {
      val calls = names.map(n => timedOp(r, n)(query(n)))
      r.opMs += (if (calls.forall(_._1.isDefined)) Some(calls.map(_._2).sum) else None)
      r.items += calls.count(_._1.isDefined)
    }
    if (r.tracer.isEmpty) {
      val (_, cold) = timedOp(r, "cold pass")(names.foreach(query))
      r.coldMs = cold
      timedOp(r, "warm-up pass")(names.foreach(query))
      val t0 = System.nanoTime()
      var passes = 0
      while (passes < 3 || System.nanoTime() - t0 < r.seconds * 1e9) { pass(); passes += 1 }
      r.windowMs = ms(t0)
    } else {
      val t = r.tracer.get
      timedOp(r, "warm-up pass")(names.foreach(query))
      names.zipWithIndex.foreach { case (n, i) => overheadPair(r, i, "ops")(query(n)) }
      r.layer("relational.jobs_per_query") = t.jobsOf("ops").size.toDouble / names.size
    }
    val first = mutable.LinkedHashMap.empty[String, (Seq[String], Seq[String])]
    results.foreach { case (n, cols, rows) =>
      val c = canonical(cols, rows)
      first.get(n) match {
        case None => first(n) = c
        case Some(f) => r.check(f == c, s"$n gave a different result on a later call")
      }
    }
    r.write("analytics.json", first.map { case (n, (c, rows)) =>
      Json.str(n) + ":" + Json.obj("cols" -> c, "rows" -> rows) }.mkString("{", ",\n", "}"))
    r.write("analytics_oracle.json", Json.value(
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
  }

  // ---- entry ---------------------------------------------------------------

  def peakRssMb(): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    s.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, in, out, seconds, trace, seed, master, partitions) = args
    Files.createDirectories(Paths.get(out))
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val readyMs = System.currentTimeMillis()
    Files.write(Paths.get(out, "ready_ms"), readyMs.toString.getBytes(UTF_8))
    spark.sparkContext.setLogLevel("ERROR")

    val cores = spark.sparkContext.defaultParallelism
    val tracer = if (trace == "1") Some(new Tracer(spark, s"$workload-$seed-$readyMs")) else None
    tracer.foreach(_.register())
    val r = new Run(spark, in, out, seconds.toDouble, tracer, cores, seed.toLong)
    val t0 = System.nanoTime()
    try workload match {
      case "corpus_clean" => corpusClean(r)
      case "retrieval" => retrieval(r)
      case "analytics" => analytics(r)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case NonFatal(e) =>
        r.attempted += 1; r.failed += 1
        System.err.println(s"[perfbench] workload $workload failed: $e")
        e.printStackTrace()
    }
    val totalMs = ms(t0)
    tracer.foreach { t =>
      r.layer ++= t.layerMetrics("ops", cores)
      val build = t.layerMetrics("build", cores)
      val nOps = t.opsIn("ops")
      r.layer("build.s") = t.spanWall("ops", _.endsWith(".build")) / 1e3 / nOps
      r.layer("build.eager_jobs") = t.jobsIn("ops", _.endsWith(".build")).size.toDouble / nOps
      r.layer("build.cold_jobs") = build("exec.jobs")
      // the cold operation's jobs by module: where index training,
      // staging and first-call work land
      t.modules.foreach { m =>
        r.layer(s"cold.$m.jobs") = build(s"$m.jobs")
        r.layer(s"cold.$m.job_s") = build(s"$m.job_s")
      }
      val pairs = r.overhead.toSeq
      r.layer("trace.overhead_ms") = median(pairs.map { case (u, tr) => tr - u })
      r.layer("trace.overhead_share") =
        median(pairs.map { case (u, tr) => if (u > 0) (tr - u) / u else 0.0 })
      Files.write(Paths.get(out, "spans.json"), t.spansJson.getBytes(UTF_8))
    }
    val result = Json.obj(
      "ready_ms" -> readyMs,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "op_ms" -> r.opMs.map(_.getOrElse(null)).toSeq,
      "cold_ms" -> r.coldMs,
      "items" -> r.items,
      "window_ms" -> r.windowMs,
      "total_ms" -> totalMs,
      "peak_rss_mb" -> peakRssMb(),
      "layer" -> r.layer)
    Files.write(Paths.get(out, "result.json"), result.getBytes(UTF_8))
    // everything the run made lives in a directory run.py deletes, so
    // the shutdown hooks (SparkContext stop, temp-dir cleanup) are skipped
    Runtime.getRuntime.halt(0)
  }
}
