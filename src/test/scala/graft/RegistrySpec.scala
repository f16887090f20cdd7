package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry drift fails here, at `sbt test`, not only after a full
  * Verify run: one owner per key, an oracle only for a registered query,
  * and a SURVEY §2 row for every key (the regex tools/roundclose.sh
  * uses). Likewise a per-dataset cache hand-rolled beside graft.Memo,
  * a Lloyd step spelled beside KMeans.train / ClusterSql, an oracle
  * that trains the IVF coarse quantizer twice, a second exact-
  * quantile engine beside graft.relational.Quantiles, and a sweep loop
  * checkpointing beside graft.Fixpoint. */
class RegistrySpec extends AnyFunSuite {

  private def owners(part: Registry => Iterable[String]): Map[String, Seq[String]] =
    SparkEntry.modules.flatMap(m => part(m).map(_ -> SparkEntry.name(m)))
      .groupBy(_._1).map { case (k, kms) => k -> kms.map(_._2) }

  test("no key is registered by two modules") {
    for (part <- Seq[Registry => Iterable[String]](_.queries.keys, _.oracleSql.keys)) {
      val twice = owners(part).collect { case (k, ms) if ms.size > 1 =>
        s"$k (${ms.mkString(" and ")})" }
      assert(twice.isEmpty, s"keys registered by two modules: ${twice.mkString(", ")}")
    }
    assert(SparkEntry.queries.keySet == owners(_.queries.keys).keySet)
    assert(SparkEntry.oracleSql.keySet == owners(_.oracleSql.keys).keySet)
  }

  test("every oracleSql key is a queries key") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("every key appears backticked in SURVEY §2") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val start = survey.indexOf("## §2 ")
    assert(start >= 0, "SURVEY.md has no §2")
    val end = survey.indexOf("\n## ", start + 1)
    val s2 = if (end < 0) survey.substring(start) else survey.substring(start, end)
    val listed = "`([a-z0-9_]+)`".r.findAllMatchIn(s2).map(_.group(1)).toSet
    val unlisted = SparkEntry.queries.keySet -- listed
    assert(unlisted.isEmpty, s"registered queries with no SURVEY §2 row: ${unlisted.toSeq.sorted.mkString(", ")}")
  }

  /** Matches of `marks` in every src/main Scala file but `owner`. */
  private def strays(marks: scala.util.matching.Regex, owner: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try s.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != owner)
      .flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        marks.findAllMatchIn(text).map(m => s"$p: ${m.matched}")
      } finally s.close()
  }

  test("staged state is built only through graft.Memo") {
    val forkMarks = Seq("createTempDirectory(\"graft-staged\")", "Memo.miss(", "deleteOnExit")
      .map(java.util.regex.Pattern.quote).mkString("(", "|", ")").r
    val forks = strays(forkMarks, "Memo.scala")
    assert(forks.isEmpty, s"per-dataset state built outside graft.Memo: ${forks.mkString(", ")}")
  }

  test("the Lloyd step is spelled once: KMeans.train and ClusterSql.lloydChainSql") {
    // the engine's reseed and the oracle's unrolled widen/assign/update
    // chain (whose stage i > 1 reads the previous update, u${i - 1})
    val reseeds = strays(java.util.regex.Pattern.quote("getOrElse(i, centers(i))").r, "KMeans.scala")
    assert(reseeds.isEmpty, s"a Lloyd reseed outside KMeans.train: ${reseeds.mkString(", ")}")
    val chains = strays("""if \(i == 1\)[^\n]*u\$\{i - 1\}""".r, "ClusterSql.scala")
    assert(chains.isEmpty, s"a Lloyd chain unrolled outside ClusterSql: ${chains.mkString(", ")}")
  }

  test("exact quantiles have one engine: the pass-1 bucket is spelled only in Quantiles") {
    val files = strays(java.util.regex.Pattern.quote("log(2.0, abs(").r, owner = "")
      .map(m => java.nio.file.Paths.get(m.takeWhile(_ != ':')).getFileName.toString).distinct
    assert(files == Seq("Quantiles.scala"),
      s"files spelling the binade bucket: ${files.mkString(", ")}")
  }

  test("MinHash signatures come only from the native kernel: no Spark-SQL HOF idiom") {
    // the DuckDB mirror (Dedup.mhSql) spells list_transform(string_split(…;
    // the kernel's own doc names the formulation it replaced
    val hofs = strays("""(?<![a-z_])transform\(split\([^\n]*->\s*md5\(""".r, "MinHashSig.scala")
    assert(hofs.isEmpty, s"a Spark-SQL MinHash HOF outside MinHashSig: ${hofs.mkString(", ")}")
  }

  test("each oracle trains the IVF coarse quantizer at most once") {
    val twice = SparkEntry.oracleSql.collect {
      case (k, sql) if "acell AS MATERIALIZED".r.findAllMatchIn(sql).size > 1 => k
    }
    assert(twice.isEmpty, s"oracles training the coarse quantizer twice: ${twice.toSeq.sorted.mkString(", ")}")
  }

  /** Eager materializations per src/main file: the sweep loop lives in
    * graft.Fixpoint, and every other call site is a one-shot frame with
    * its reason. A count must equal its allowance, so a removed site
    * lowers the allowance rather than leaving room for a new loop. */
  private val checkpointAllowance = Map(
    "Fixpoint.scala" -> 1, // the sweep loop: one checkpoint per sweep
    "Cdc.scala" -> 1, // chunks before the explode, or InferFiltersFromGenerate clones the chunker
    "Graph.scala" -> 1, // cappedMutual: both wedge arms and the degree frame read it
    "Dedup.scala" -> 1, // the label-propagation edge frame every sweep reads
    "KMeans.scala" -> 2, // qScalableInit's rounds: phi is order-dependent, not yet an exact measure
    "Bpe.scala" -> 2) // train's rounds: each is a driver argmax, not an aggregate measure
  private val checkpointCall = """\.localCheckpoint\(""".r

  test("localCheckpoint call sites match their allowance: sweep loops live in Fixpoint") {
    val counts = strays(checkpointCall, owner = "")
      .map(m => java.nio.file.Paths.get(m.takeWhile(_ != ':')).getFileName.toString)
      .groupBy(identity).map { case (f, ms) => f -> ms.size }
    assert(counts == checkpointAllowance,
      s"localCheckpoint call sites per file: ${counts.toSeq.sorted.mkString(", ")}")
  }

  test("the checkpoint census sees a hand-rolled sweep loop") {
    // the label-propagation and k-core loop shapes Fixpoint replaced
    val lp = """val edges = e.select(col("ia").as("s"), col("ib").as("d"))
      |  .union(e.select(col("ib").as("s"), col("ia").as("d")))
      |  .localCheckpoint(eager = true)
      |var labels = nodes.withColumn("lbl", col("doc_id"))
      |  .localCheckpoint(eager = true)
      |while (changed > 0 && sweep < maxSweeps) {
      |  val next = stepped.as("a")
      |    .join(stepped.as("b"), col("a.lbl") === col("b.doc_id"))
      |    .localCheckpoint(eager = true)
      |  changed = next.filter(col("lbl") < col("prev")).count()
      |}""".stripMargin
    val kcore = """var edges = e.select("ia", "ib").localCheckpoint(true)
      |while (changed && rounds < maxRounds) {
      |  val next = edges.join(keep.select(col("s").as("ia")), "ia")
      |    .select("ia", "ib")
      |    .localCheckpoint(true)
      |  val nextCount = next.count()
      |}""".stripMargin
    assert(checkpointCall.findAllMatchIn(lp).size == 3)
    assert(checkpointCall.findAllMatchIn(kcore).size == 2)
  }

  test("select trims names and rejects unknown ones") {
    val some = SparkEntry.queries.keys.toSeq.sorted.take(2)
    assert(SparkEntry.select(s" ${some(0)} ,,${some(1)},") == some)
    val e = intercept[IllegalArgumentException](SparkEntry.select(s"${some(0)},no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
  }
}
