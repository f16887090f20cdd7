package graft.relational

import graft.clustering.{Roulette, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

class RelationalSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("as-of join matches the brute-force inequality formulation") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.t(spark, sf, "events")
      .select("event_id", "user_id", "ts", "event_type", "value").cache()
    val viaWindow = Relational.eventsAsof(spark, sf)
      .select("event_id", "last_click_ts").as[(Long, java.sql.Timestamp)].collect().toMap
    // brute force: max click ts <= error ts per user (small data only)
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id", $"user_id".as("eu"), $"ts".as("ets"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"ts".as("cts"))
    val brute = errors.join(clicks, $"eu" === $"cu" && $"cts" <= $"ets")
      .groupBy("event_id").agg(max("cts").as("want"))
      .as[(Long, java.sql.Timestamp)].collect().toMap
    assert(brute.keySet == viaWindow.keySet)
    assert(brute.forall { case (id, want) => viaWindow(id) == want })
    ev.unpersist()
  }

  test("salted aggregation equals the direct aggregation") {
    val salted = Relational.aggSalted(spark, sf)
      .as[(String, Long, Double)].collect()
      .map { case (k, n, s) => k -> ((n, s)) }.toMap
    val direct = graft.Tables.t(spark, sf, "events")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(salted.keySet == direct.keySet)
    assert(salted.forall { case (k, (n, _)) => direct(k) == n })
  }

  test("in-place roulette pick agrees with the sorted variant on sorted input") {
    val df = (1L to 100L).map(i => (i, i.toDouble)).toDF("rid", "w")
      .repartitionByRange(4, $"rid").sortWithinPartitions("rid").cache()
    for (t <- Seq(0.0, 100.0, 2500.0, 5049.9)) {
      assert(Roulette.pickByPrefix(df, "rid", "w", t) ==
        Roulette.pickByPrefixInPlace(df, "rid", "w", t))
    }
    df.unpersist()
  }

  test("conversion lag on events with no purchase is one row of 0 and NULL quartiles") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_no_purchase").toFile
    try {
      graft.Tables.t(spark, sf, "events").filter(col("event_type") =!= "purchase")
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      val rows = Relational.eventsConversionLag(spark, dir.toString).collect()
      assert(rows.map(_.toSeq) sameElements Array(Seq(0L, null, null, null)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
