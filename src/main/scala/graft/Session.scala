package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session configuration every graft entry point runs under.
  * Each default is set only if missing, so values from spark-submit or
  * `-Dspark.*` still win. */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, else every available processor. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cores: Int = defaultCores): SparkSession = {
    val conf = new SparkConf()
      .setIfMissing("spark.master", s"local[$cores]")
      .setIfMissing("spark.sql.shuffle.partitions", cores.toString)
      // instant-preserving events reads (Tables.t) require UTC
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS), readable only as longs
      .setIfMissing("spark.sql.legacy.parquet.nanosAsLong", "true")
      .setIfMissing("spark.sql.extensions", "graft.functions.GraftExtensions")
      .setIfMissing("spark.ui.enabled", "false")
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
