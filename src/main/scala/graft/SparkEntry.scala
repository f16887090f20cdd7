package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator module's share of the registry. */
trait Registry {
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String]
}

/** The query registry (SURVEY.md §7): every operator module's `queries`
  * / `oracleSql` maps folded into the one registry that Verify, Bench
  * and the tools run.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    relational.Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per operator module from SURVEY.md §2. */
  val modules: Seq[Registry] = Seq(
    relational.Relational,
    relational.TpchClosure,
    relational.Did,
    relational.Benford,
    relational.Hll,
    relational.Inequality,
    relational.Survival,
    relational.Growth,
    relational.Sequencing,
    relational.Anova,
    relational.SlidingUniques,
    relational.Ivm,
    relational.Audit,
    relational.Cuped,
    relational.Power,
    relational.KsTest,
    relational.AttributionCompare,
    relational.FunnelAb,
    relational.Analytics,
    relational.UserHhi,
    relational.MarkovBacktest,
    relational.ChapmanKolmogorov,
    relational.BasketRules,
    relational.Stickiness,
    relational.Graph,
    relational.CountMin,
    clustering.KMeans,
    clustering.MiniBatch,
    clustering.MLlibBridge,
    clustering.GKA,
    clustering.PSO,
    clustering.Density,
    dedup.Dedup,
    dedup.Bloom,
    dedup.Incremental,
    dedup.PrefixJoin,
    dedup.Cdc,
    dedup.LongestSpan,
    dedup.DecontaminateMatrix,
    dedup.ReleaseGate,
    search.SimSearch,
    search.RandomProjection,
    search.Quantized,
    search.PQ,
    search.IvfPq,
    search.Spectrum,
    search.Whiten,
    search.IvfIncremental,
    search.KnnEval,
    search.RankEval,
    search.Outliers,
    search.Prf,
    search.PcaScatter,
    search.Drift,
    search.Isotropy,
    text.TextAnalysis,
    text.Encoding,
    text.LengthStats,
    text.Winnowing,
    text.Rake,
    text.Burstiness,
    text.Heaps,
    text.Watermark,
    text.Coverage,
    text.Bpe,
    text.C4Rules,
    text.Pii,
    text.QualityClf,
    text.Repetition,
    text.CorpusStats,
    text.SourceOverlap,
    multimodal.Multimodal,
    pipeline.CleanCorpus,
    pipeline.Splits,
    pipeline.Mix,
    pipeline.Assembly,
    pipeline.Upsert,
    pipeline.Forget,
    pipeline.ReleaseDiff,
    pipeline.Interleave,
    pipeline.DataChecks)

  /** A module object's name, e.g. `relational.Growth`. */
  def name(m: Registry): String =
    m.getClass.getName.stripPrefix("graft.").stripSuffix("$")

  /** The modules' maps as one map; a key two modules register fails. */
  private def fold[V](part: Registry => Map[String, V]): Map[String, V] =
    modules.foldLeft(Map.empty[String, (Registry, V)]) { (acc, m) =>
      part(m).foldLeft(acc) { case (a, (k, v)) =>
        a.get(k).foreach { case (first, _) =>
          throw new IllegalStateException(
            s"registry key $k is registered by both ${name(first)} and ${name(m)}")
        }
        a.updated(k, (m, v))
      }
    }.map { case (k, (_, v)) => k -> v }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = fold(_.queries)

  lazy val oracleSql: Map[String, String] = fold(_.oracleSql)

  /** The registry keys in a comma-separated list, trimmed, blanks
    * dropped; an unknown name fails loudly. */
  def select(list: String): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names
  }
}
