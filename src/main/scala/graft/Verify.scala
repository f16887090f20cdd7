package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // Freshness handshake (round-14): one run id, stamped into the
    // output root AND into every query dir this run (re)writes, so a
    // compare over stale/partial output is detectable (tools/check.py
    // marks unstamped dirs STALE; roundclose refuses them). The id is
    // wall-clock + JVM name — unique per run, no coordination needed.
    val runId = s"${System.currentTimeMillis()}-" +
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName
        .replaceAll("[^A-Za-z0-9]", "")
    // optional comma-separated allowlist for fast targeted reruns
    // (builder-side tool; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(SparkEntry.select(_).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name))
    }
    // Per-query pass/fail persisted UNCONDITIONALLY and incrementally
    // (rewritten after every query): the round driver's correctness
    // artifact arrived empty in rounds 9-11, so even a Verify run that
    // is killed mid-flight must leave machine-readable evidence of
    // which queries already produced output.
    // JSON string escape: backslash, quote, ALL control chars (<0x20),
    // and unpaired-surrogate-safe — an exotic char in an exception
    // message or builder-authored SQL must never make verify_status /
    // oracle_sql unparseable (that silently zeroes the round's
    // correctness — the rounds-9..11 failure mode).
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' || (c >= '\ud800' && c <= '\udfff') => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val status = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def persistStatus(): Unit = {
      val body = status.map { case (k, v) => s""""$k": $v""" }
        .mkString("{\n", ",\n", "\n}\n")
      try Files.writeString(Paths.get(s"$outDir/verify_status.json"), body)
      catch { case e: Throwable => System.err.println(s"[verify] status write: $e") }
    }
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        Files.writeString(Paths.get(s"$outDir/$name/_RUN_STAMP"), runId)
        // Canonical compare-side hash (round-14 verdict demand #2):
        // re-read the bytes just written and record the sha256 of the
        // canonical compared form; tools/check.py recomputes it from
        // the same bytes through DuckDB+Python and verifies equality,
        // so a checker-side discrepancy is provable bytes-on-disk.
        Files.writeString(Paths.get(s"$outDir/$name/_CANONICAL.sha256"),
          Canonical.hashOf(spark.read.parquet(s"$outDir/$name")))
        status(name) = f"""{"ok": true, "sec": ${(System.nanoTime() - t0) / 1e9}%.2f}"""
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        status(name) = s"""{"ok": false, "err": ${q(String.valueOf(e.getMessage).take(160))}}"""
      }
      persistStatus()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/run_stamp.json"),
      s"""{"run_id": ${q(runId)}, "sf_dir": ${q(sfDir)}, """ +
        s""""n_queries": ${selected.size}, """ +
        s""""finished_ms": ${System.currentTimeMillis()}}""")
    spark.stop()
  }
}
