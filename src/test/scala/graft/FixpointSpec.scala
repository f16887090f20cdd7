package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.clustering.SparkTestSession
import graft.dedup.Dedup
import graft.relational.Graph

/** The shared sweep loop's contract, through k-core peeling and
  * connected components: a loop that hits its cap throws, empty and
  * peel-to-empty graphs still converge (their observed measure
  * arrives), and a converging loop's only driver actions are its
  * checkpoints. */
class FixpointSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // triangle 1-2-3 with a pendant path 3-4-...-12: the 2-core peel
  // drops one path node per round, nine rounds plus the confirming one
  private val tail = (Seq((1L, 2L), (1L, 3L), (2L, 3L)) ++ (3L to 11L).map(i => (i, i + 1)))
    .toDF("ia", "ib")
  private val chain = (1L to 8L).map(i => (i, i + 1)).toDF("ia", "ib")
  private val empty = Seq.empty[(Long, Long)].toDF("ia", "ib")

  private def core(e: org.apache.spark.sql.DataFrame, k: Int, maxRounds: Int = 30) =
    Graph.kCoreOf(e, k, maxRounds).as[(Int, Long, Long)].collect().toSeq

  test("a loop that does not converge within its cap throws") {
    val e = intercept[IllegalArgumentException](core(tail, 2, maxRounds = 9))
    assert(e.getMessage.contains("2-core peeling did not converge in 9"))
    assert(core(tail, 2, maxRounds = 10) == Seq((2, 3L, 3L)),
      "the confirming no-op round is the tenth and counts against the cap")
    val l = intercept[IllegalArgumentException](Dedup.labelPropagateConverged(chain, maxSweeps = 1))
    assert(l.getMessage.contains("label propagation did not converge in 1"))
  }

  test("empty and peel-to-empty graphs keep their results") {
    assert(core(empty, 2) == Seq((2, 0L, 0L)))
    assert(core(chain, 2) == Seq((2, 0L, 0L)), "a path peels to nothing")
    assert(core(tail, 3) == Seq((3, 0L, 0L)))
    assert(Dedup.labelPropagateConverged(empty).collect().isEmpty)
  }

  test("a converging loop's only driver actions are its checkpoints") {
    // every job k-core peeling launches is a Fixpoint checkpoint's;
    // connected components adds only its one-shot edge frame
    for ((build, others) <- Seq[(() => org.apache.spark.sql.DataFrame, Int)](
        (() => Graph.kCoreOf(tail, 2), 0),
        (() => Dedup.labelPropagateConverged(chain), 1))) {
      val (_, run) = QueryRun.record(spark)(build())
      val sites = run.jobs.map(_.callSite).distinct
      val elsewhere = sites.filterNot(_.contains("(Fixpoint.scala:"))
      assert(elsewhere.size == others && sites.size == others + 1,
        s"job call sites: ${sites.mkString(", ")}")
    }
  }
}
