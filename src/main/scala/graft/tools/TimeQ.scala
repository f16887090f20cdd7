package graft.tools

import graft.{Session, SparkEntry, Tables}

/** Single-JVM query timer for scaling checkpoints: times each named
  * query (or the ENTIRE registry with `ALL`) once at the given SF dir
  * and appends machine-readable TIMEQ lines; tools/sf1_sweep.py runs
  * it at sf0.1 and bench_sf1 and reduces the pairs to growth factors
  * in BENCH_SF1.json. Min-of-1 by design — the sweep wants relative
  * growth across two SFs timed identically, not absolute best-case.
  * Cores come from SPARK_GRAFT_CPUS (graft.Session). */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.drop(1).toSeq == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else SparkEntry.select(args.drop(1).mkString(","))
    val spark = Session()
    Tables.warm(spark, sfDir)
    val out = sys.env.get("TIMEQ_OUT").map(new java.io.PrintWriter(_))
    names.foreach { n =>
      val t0 = System.nanoTime()
      val c = SparkEntry.queries(n)(spark, sfDir).count()
      val line = f"TIMEQ $n%s rows=$c%d sec=${(System.nanoTime() - t0) / 1e9}%.3f"
      println(line)
      out.foreach { w => w.println(line); w.flush() }
      // the Bench discipline (Bench.scala): leftover cached frames tax
      // every LATER query's GC in a full sweep — measured 3-5x
      // in-sweep inflation vs solo on the verify-leg dedup queries at
      // sf1; staged parquet dirs are reads, not cache entries, so
      // staging attribution is unaffected
      spark.catalog.clearCache()
    }
    out.foreach(_.close())
    spark.stop()
  }
}
