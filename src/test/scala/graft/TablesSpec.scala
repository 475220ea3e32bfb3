package graft

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** The per-session table layout memo behind [[Tables.load]]. */
class TablesSpec extends SparkSpec {

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def partitioning(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.outputPartitioning

  test("a warm load infers nothing, and a rewritten path is re-inferred") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val loaded = Tables.load(spark, dir, "t")
    assert(loaded.columns.toSeq == Seq("id", "v"))
    // one file, one split: planned as the single partition it is
    assert(partitioning(loaded) == SinglePartition)

    // warm: the schema comes from the memo, so the scan is the only job
    val jobs = jobsOf(noop(Tables.load(spark, dir, "t")))
    assert(jobs == 1, s"warm load + noop write ran $jobs jobs")

    // the same path rewritten in this session as 8 files, with one
    // more column: the memo key carries the path's modification time
    spark.range(0, 8, 1, numPartitions = 8)
      .selectExpr("id", "concat('v', id) AS v", "CAST(id AS DOUBLE) AS w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reloaded = Tables.load(spark, dir, "t")
    assert(reloaded.columns.toSeq == Seq("id", "v", "w"))
    assert(partitioning(reloaded) != SinglePartition)
    assert(reloaded.collect().toSeq.map(_.getDouble(2)).sorted == (0 until 8).map(_.toDouble))
  }
}
