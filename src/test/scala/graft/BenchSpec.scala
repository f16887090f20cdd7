package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.clustering.SparkTestSession

/** Bench's per-query measurement: every ledger field is there, every
  * job has a graft call site, and a staged query's first rep (its
  * `Memo` build included) is never cheaper than its steady reps. */
class BenchSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  /** A private copy of the sf0.001 tables: a fresh dataset dir, so
    * the staged query's `Memo` build runs here whatever ran before. */
  private def copyOfSf0001(): Path = {
    val src = Paths.get("/root/testdata/sf0.001")
    val dst = Files.createTempDirectory("bench-spec")
    val s = Files.walk(src)
    try s.forEach { p: Path =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally s.close()
    dst
  }

  private val fields = Seq("build_s", "build_jobs", "jobs", "stages", "tasks",
    "single_task_stages", "job_s", "wall_s", "compiles", "unattributed_jobs",
    "first_s", "out_s")

  test("the ledger of a plain and a staged query") {
    val sf = copyOfSf0001()
    try for ((name, staged) <- Seq("q6_revenue_delta" -> false, "q16_supplier_cnt" -> true)) {
      val m = Bench.measure(spark, sf.toString, 2, name, SparkEntry.queries(name))
      val l = m.ledger.toMap
      assert(m.error.isEmpty, s"$name: ${m.error}")
      assert(m.ledger.map(_._1) == fields, name)
      assert(m.staged == staged, s"$name: staged_rep1")
      assert(l("unattributed_jobs") == 0, s"$name: $l")
      assert(l("jobs").asInstanceOf[Int] >= l("build_jobs").asInstanceOf[Int])
      assert(l("stages").asInstanceOf[Int] > 0 && l("tasks").asInstanceOf[Int] > 0, s"$name: $l")
      assert(l("out_s").asInstanceOf[Double] > 0.0, s"$name: $l")
      if (staged) assert(l("first_s").asInstanceOf[Double] >= m.sec, s"$name: $l vs steady ${m.sec}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(sf.toFile)
  }
}
