package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet star-schema loader for the driver's testdata layout
  * (TESTDATA.md): one parquet file per table under an sf directory.
  *
  * Mirrors the reference's dataset ingestion role (kmeans.java:203-239
  * `readDataset`) but Spark-first: data stays a distributed DataFrame,
  * never a driver-side array.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table; column pruning / predicate pushdown is left to
    * Catalyst (the caller's select/filter reaches the parquet scan).
    *
    * events.ts has shipped in two physical forms across testdata
    * generations, so the loader normalizes BOTH to a session-tz
    * TimestampType column (sessions pin spark.sql.session.timeZone=UTC,
    * making the conversions instant-preserving):
    *  - TIMESTAMP(NANOS) parquet, which Spark's vectorized reader only
    *    accepts as a raw long under
    *    spark.sql.legacy.parquet.nanosAsLong=true (graft.Session
    *    sets it); integer `div` converts to micros with full precision
    *    (nanos ~1.7e18 exceed a double's 2^53);
    *  - TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark
    *    reads natively as TIMESTAMP_NTZ — cast to TimestampType so
    *    every downstream time function sees one type.
    */
  /** Builder-side determinism sweep hook (tools/roundclose.sh): when
    * SPARK_GRAFT_LAYOUT_JITTER=<parts> is set, every table read is
    * round-robin repartitioned to that many partitions, scrambling
    * row-to-partition assignment and accumulation order. Two Verify
    * runs — one direct, one jittered at different parallelism — must
    * produce identical results for every oracled query; any
    * order-dependent rounding flips here before it flips on the
    * driver's host. Never set in driver or bench runs. */
  private val layoutJitter: Option[Int] =
    sys.env.get("SPARK_GRAFT_LAYOUT_JITTER").map(_.toInt)

  /** Footer-only layout probe: (row groups, rows) per parquet path,
    * memoized — Spark reads the same footers at planning time, so this
    * adds one ~ms metadata read per (table, JVM), never a data pass. */
  private val layoutMeta =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
  private def parquetLayout(spark: SparkSession, path: String): (Int, Long) = {
    val cached = layoutMeta.get(path)
    if (cached != null) return cached
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq.filter(f =>
            f.isFile && !f.getPath.getName.startsWith("_"))
        else Seq(fs.getFileStatus(p))
      var groups = 0
      var rows = 0L
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try { groups += r.getRowGroups.size(); rows += r.getRecordCount }
        finally r.close()
      }
      val v = (groups, rows)
      layoutMeta.putIfAbsent(path, v) // only SUCCESSFUL probes are memoized:
      v                               // a transient footer/FS error must not
                                      // disable the spread for the JVM's life
    } catch {
      case scala.util.control.NonFatal(_) => (Int.MaxValue, 0L) // unknown: leave layout alone, retry next call
    }
  }

  /** Parquet scans parallelize across row groups, never within one —
    * a table written as a single row group feeds exactly ONE task no
    * matter how many cores the session has, so every per-row expression
    * downstream runs single-threaded while the rest of the machine
    * idles (measured: the 600 k-row lineitem scan stage of
    * gka_selection_wheel spent 1.8 s in one task on local[32]).
    *
    * The guide's input-skew remedy (§2.5: "one huge unsplittable file …
    * repartition immediately after the read") does NOT pay as a blanket
    * policy here: an r18 experiment that spread every table read cost
    * the 354-query sweep 212 -> 297 s — the extra exchange (plus its
    * sort-before-repartition and the duplicated evaluation of filter
    * predicates pushed below it) taxes the ~320 scan-light queries more
    * than the handful of compute-heavy ones gain. So the spread is
    * OPT-IN per operator: [[spreadIfNeeded]] is applied by call sites
    * that cache or checkpoint a frame and then run MANY jobs over it
    * (iterative clustering loops, the spark.ml fit), where one exchange
    * amortizes over the whole loop. It is layout-adaptive: a no-op
    * whenever the backing file's row groups can already feed the
    * session's cores (always true at production scale), and the target
    * count is defaultParallelism, not a constant, so the driver's
    * lower-core bench spreads to ITS core count. */
  def spreadIfNeeded(spark: SparkSession, dir: String, name: String,
                     df: DataFrame, hashKey: Option[String] = None): DataFrame = {
    if (layoutJitter.isDefined) return df // jitter sweep controls layout itself
    val cores = spark.sparkContext.defaultParallelism
    val (groups, rows) = parquetLayout(spark, s"$dir/$name.parquet")
    if (groups < cores && rows >= 16L * cores)
      // hash-partitioning by a provided (near-)unique key skips the
      // local sort round-robin repartition pays (SPARK-23207 applies
      // only to round-robin); the key's hash spread is even when the
      // key is unique per row
      hashKey.fold(df.repartition(cores))(k => df.repartition(cores, col(k)))
    else df
  }

  /** [[t]]("documents") hash-spread by doc_id when the backing parquet
    * cannot feed the session's cores — the documents twin of
    * Points.lineitem4dSpread, for the text operators whose per-row cost
    * is a word/gram EXPLODE over the full text (an interpreted HOF pass
    * of ~0.5 s per derivation at sf0.1 that otherwise runs in the
    * single scan task; the LM scorers re-derive their bigram frame 3-5x
    * per query, so all of it serialized on one core). Opt-in per
    * operator for the same reason the point-set spread is: the one
    * exchange (the tiny text table, shuffled once) only pays where the
    * downstream per-doc compute dominates the scan. */
  def docsSpread(spark: SparkSession, dir: String): DataFrame =
    spreadIfNeeded(spark, dir, "documents",
      t(spark, dir, "documents"), Some("doc_id"))

  /** Read one row of every table, so parquet footer reads, codegen and
    * executor start-up do not land on whichever query runs first. A
    * table the dir lacks is skipped. */
  def warm(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      try t(spark, dir, n).limit(1).count()
      catch { case scala.util.control.NonFatal(_) => () }
    }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val read = spark.read.parquet(s"$dir/$name.parquet")
    val df = layoutJitter.fold(read)(read.repartition)
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    } else df
  }
}
