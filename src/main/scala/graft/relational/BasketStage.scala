package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Staged derived frames for the market-basket family (§2 #112
  * discipline, round-16: verdict-15 demand #3).
  *
  * `basket_lift`, `basket_rules` and `basket_triples` — the bench's
  * top THREE shufflers (43 / 63 / 73 MB at sf0.1) — each rebuilt the
  * same two frames from the raw lineitem table per invocation: the
  * distinct (l_orderkey, l_partkey) basket-item projection and the
  * (pa < pb) pair-co-occurrence census over its self-join. That is
  * one operator family re-paying one shuffle three times; a
  * deployment materializes the basket index once at ingest and every
  * rule/lift/triple report reads it. Both frames are exact integer
  * counts over a deterministic projection, so staging cannot change
  * any consumer's result (their oracles pin this).
  *
  * Scale shape: the items projection is one hash-distinct shuffle;
  * the census is one co-partitioned self-equi-join on the order key
  * (order-size-bounded fan-out) plus one pair-key aggregate. Staged
  * to parquet once per (JVM, dataset) via [[graft.Memo.frame]];
  * consumers pay a parquet scan. */
object BasketStage {

  /** Distinct (l_orderkey, l_partkey) basket items, staged per
    * (JVM, dir, dataset fingerprint) — a regenerated dataset rebuilds
    * the stage (advice r16). The explicit not-null filter matches what the optimizer
    * infers for the self-join sides (keys are never null in the data;
    * no semantic change) — kept from the pre-staging shape so the
    * staged frame is byte-identical to what consumers built inline. */
  def items(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(spark, dir, "basket-items") {
      t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .distinct()
    }

  /** Unfiltered (pa < pb, n_ab) pair-co-occurrence census, staged.
    * UNFILTERED (no minSupport cut) so every consumer can apply its
    * own threshold to the same staged frame. */
  def pairCounts(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(spark, dir, "basket-pairs") {
      val its = items(spark, dir)
      its.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(its.select(col("l_orderkey"), col("l_partkey").as("pb")),
          "l_orderkey")
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
    }
}
