package graft

import java.nio.file.{Files, Path}

import graft.clustering.SparkTestSession
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

/** Staged state (graft.Memo) must rebuild when the DATA under a
  * dataset dir changes within one JVM (advice r16: dir-keyed caches
  * served stale state to every consumer after a regeneration — tests,
  * re-scaled benches), must allow nested builds, and must cache
  * nothing from a build that throws. */
class MemoSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Overwrite one parquet table under `dir`, then push every file's
    * mtime forward so the change shows even on coarse filesystem
    * clocks. */
  private def rewrite(dir: Path, table: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
    val p = dir.resolve(s"$table.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p.toString)
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).forEach { f =>
      f.toFile.setLastModified(f.toFile.lastModified() + 5000)
    } finally s.close()
  }

  test("a regenerated dataset dir invalidates the staged frame") {
    val dir = Files.createTempDirectory("memo-spec")
    rewrite(dir, "data")(Seq(1L, 2L, 3L).toDF("v"))
    def staged() = Memo.frame(spark, dir.toString, "spec-frame") {
      spark.read.parquet(dir.resolve("data.parquet").toString).agg(sum("v").as("s"))
    }
    assert(staged().head.getLong(0) == 6L)
    // same data, same fingerprint: served from the stage
    assert(staged().head.getLong(0) == 6L)
    rewrite(dir, "data")(Seq(10L, 20L).toDF("v"))
    assert(staged().head.getLong(0) == 30L,
      "stale staged frame served after the dataset dir was regenerated")
  }

  test("distinct stage names under one dir do not collide") {
    val dir = Files.createTempDirectory("memo-spec")
    rewrite(dir, "t")(Seq(7L).toDF("v"))
    val a = Memo.frame(spark, dir.toString, "frame-a") {
      spark.read.parquet(dir.resolve("t.parquet").toString).selectExpr("v * 2 AS v")
    }
    val b = Memo.frame(spark, dir.toString, "frame-b") {
      spark.read.parquet(dir.resolve("t.parquet").toString).selectExpr("v * 3 AS v")
    }
    assert(a.head.getLong(0) == 14L && b.head.getLong(0) == 21L)
  }

  test("SimSearch.queryVecs follows a regenerated embeddings table") {
    val dir = Files.createTempDirectory("memo-spec")
    def embeddings(scale: Float) =
      (1L to 8L).map(id => (id, Array.tabulate(4)(d => scale * id + d))).toDF("vec_id", "embedding")
    rewrite(dir, "embeddings")(embeddings(1f))
    val before = search.SimSearch.queryVecs(spark, dir.toString)
    assert(before.map(_._1).toSeq == (1L to 5L))
    assert(before.head._2.toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    rewrite(dir, "embeddings")(embeddings(10f))
    val after = search.SimSearch.queryVecs(spark, dir.toString)
    assert(after.head._2.toSeq == Seq(10.0, 11.0, 12.0, 13.0),
      "stale query vectors served after the embeddings table was regenerated")
  }

  test("TpchClosure.partsupp follows a regenerated lineitem table") {
    val dir = Files.createTempDirectory("memo-spec")
    def pairs() = relational.TpchClosure.partsupp(spark, dir.toString)
      .select("ps_partkey", "ps_suppkey").as[(Long, Long)].collect().toSet
    rewrite(dir, "lineitem")(Seq((1L, 10L), (1L, 10L), (2L, 20L)).toDF("l_partkey", "l_suppkey"))
    assert(pairs() == Set((1L, 10L), (2L, 20L)))
    rewrite(dir, "lineitem")(Seq((3L, 30L)).toDF("l_partkey", "l_suppkey"))
    assert(pairs() == Set((3L, 30L)),
      "stale partsupp served after the lineitem table was regenerated")
  }

  test("a frame built inside a value build for the same dir does not throw") {
    val dir = Files.createTempDirectory("memo-spec").toString
    val n = Memo.value(dir, "spec-outer-value") {
      Memo.frame(spark, dir, "spec-inner-frame")(spark.range(3).toDF("v")).count()
    }
    assert(n == 3L)
    assert(Memo.frame(spark, dir, "spec-inner-frame")(sys.error("rebuilt")).count() == 3L)
  }

  test("a build that throws caches nothing and the next call builds") {
    val dir = Files.createTempDirectory("memo-spec").toString
    var calls = 0
    def value(fail: Boolean): Int = Memo.value(dir, "spec-retry") {
      calls += 1
      if (fail) throw new IllegalStateException("build failed") else 42
    }
    intercept[IllegalStateException](value(fail = true))
    assert(value(fail = false) == 42)
    assert(value(fail = true) == 42)
    assert(calls == 2)

    intercept[IllegalStateException](
      Memo.frame(spark, dir, "spec-retry-frame")(throw new IllegalStateException("build failed")))
    assert(Memo.frame(spark, dir, "spec-retry-frame")(spark.range(2).toDF("v")).count() == 2L)
  }

  test("a staged frame is read back with its build-time schema, without a job") {
    val dir = Files.createTempDirectory("memo-spec").toString
    def staged() = Memo.frame(spark, dir, "spec-known-schema")(spark.range(5).selectExpr("id * 2 AS v"))
    val (_, first) = QueryRun.record(spark)(staged())
    assert(first.jobs.nonEmpty, "the build writes the frame: at least one job")
    val (second, again) = QueryRun.record(spark)(staged())
    assert(again.jobs.isEmpty,
      s"a second read ran jobs: ${again.jobs.map(_.callSite).mkString(", ")}")
    assert(second.schema == spark.read.parquet(second.inputFiles.head).schema)
    assert(second.as[Long].collect().sorted.toSeq == Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("misses rises once per (name, fingerprint)") {
    val dir = Files.createTempDirectory("memo-spec")
    rewrite(dir, "t")(Seq(1L).toDF("v"))
    val m0 = Memo.misses
    def value() = Memo.value(dir.toString, "spec-count-value")(Files.list(dir).count())
    def frame() = Memo.frame(spark, dir.toString, "spec-count-frame")(spark.range(1).toDF("v"))
    value(); value(); frame(); frame()
    assert(Memo.misses == m0 + 2)
    rewrite(dir, "t")(Seq(2L).toDF("v"))
    value(); value(); frame(); frame()
    assert(Memo.misses == m0 + 4)
  }
}
