package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{Session, SparkEntry}

/** Dumps the executed plan of named registry queries to files — the
  * plan evidence the optimization rounds commit under plans/rNN/.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>
  * Writes <outDir>/<query>_<suffix>.txt per query. Reads the data dir
  * from SPARK_GRAFT_SF_DIR and cores from SPARK_GRAFT_CPUS
  * (graft.Session), so plans reflect the benched configuration.
  *
  * Each query's own DataFrame is collected first, so the formatted plan
  * is the final adaptive plan (`isFinalPlan=true`): exchange reuse,
  * join strategy switches and coalesced partitions as they actually
  * ran, not the pre-execution guess. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val Array(outDir, suffix, qcsv) = args
    val names = SparkEntry.select(qcsv)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.explainString(FormattedMode)
      val p = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.writeString(p, plan)
      println(s"[plandump] wrote $p")
    }
    spark.stop()
  }
}
