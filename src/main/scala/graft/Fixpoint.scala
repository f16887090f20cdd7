package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one checkpointed sweep loop of the iterative DataFrame operators
  * (connected components, k-core peeling, BFS, label propagation).
  *
  * A sweep's plan reads the previous sweep's frame, often more than
  * once (a path-halving self-join, BFS's frontier + anti-join + union),
  * so an un-truncated plan grows every sweep (it DOUBLES under a
  * self-join) and Catalyst re-analyzes the whole tree on every action,
  * cached or not (11 s for a 13k-edge sweep before truncation). Each
  * sweep's state is therefore an eager localCheckpoint (executor blocks,
  * the local-mode stand-in for a cluster's DFS checkpoint), which cuts
  * the next plan to a constant-size scan; nothing enters the cache
  * manager. A converging loop's measure is an [[Observation]] at the
  * ROOT of the checkpointed frame, so the checkpoint job delivers it:
  * one driver action per sweep, not a checkpoint plus a count. Observed
  * deeper, it can sit in a branch AQE prunes (an empty join side),
  * which reports no metric. */
object Fixpoint {

  /** Steps `init` until `done(previous, current)` holds for `measure`, a
    * Long aggregate over each sweep's state and over `init`. The sweep
    * that confirms convergence counts against `maxSweeps`; reaching the
    * cap first throws rather than return a state cut short. */
  def converge(what: String, init: DataFrame, maxSweeps: Int, measure: Column)
              (done: (Long, Long) => Boolean)(step: DataFrame => DataFrame): DataFrame = {
    def measured(df: DataFrame): (DataFrame, Long) = {
      val o = Observation()
      val c = checkpoint(df.observe(o, measure.as("m")))
      (c, o.get("m").asInstanceOf[Long])
    }
    @annotation.tailrec
    def from(prev: (DataFrame, Long), swept: Int): DataFrame = {
      require(swept < maxSweeps, s"$what did not converge in $maxSweeps sweeps")
      val (next, m) = measured(step(prev._1))
      if (done(prev._2, m)) next else from((next, m), swept + 1)
    }
    from(measured(init), 0)
  }

  /** Exactly `n` sweeps of `step` (given the state and the 1-based sweep
    * number) from `init`: the same checkpointing, convergence off. */
  def sweeps(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(checkpoint(init))((s, k) => checkpoint(step(s, k)))

  private def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}
