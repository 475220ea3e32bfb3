package graft

import org.apache.spark.sql.functions._

/** AQE skew handling (SURVEY §4): at 100 TB a hot key (one site, one
  * bot IP) would stall a join on a single straggler task; with AQE
  * skew-join splitting the oversized partition is divided at runtime.
  * This exercises the config + plan path on synthesized skew.
  */
class SkewJoinSpec extends SparkSpec {

  test("AQE splits a skewed join partition at runtime") {
    // 60% of rows share key 0 — deterministic skew. AQE splits a skewed
    // partition along its map outputs, so the side needs several input
    // splits, as any real multi-file table has; the single-file events
    // testdata is one split, and Tables.load no longer spreads it.
    val left = Tables.spread(spark, Tables.events(spark, sf01))
      .select(expr("CASE WHEN event_id % 10 < 6 THEN 0 ELSE event_id % 97 END")
        .as("k"), col("value"))
    val right = spark.range(100).select(col("id").as("k"),
      (col("id") * 2).as("w"))
    val confs = Map(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) =>
      try spark.conf.set(k, v) catch { case _: Throwable => }
    }
    try {
      val joined = left.join(right, Seq("k"))
        .agg(sum(col("value").cast("decimal(38,6)")).as("s"), count(lit(1)))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // AQE marks the rewritten join; accept either marker spelling
      assert(plan.contains("isSkewJoin=true") || plan.contains("skew=true"),
        plan)
    } finally {
      saved.foreach {
        case (k, Some(v)) => try spark.conf.set(k, v) catch { case _: Throwable => }
        case (k, None) => try spark.conf.unset(k) catch { case _: Throwable => }
      }
    }
  }
}
