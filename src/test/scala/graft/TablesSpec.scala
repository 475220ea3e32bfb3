package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** The per-session table layout memo behind [[Tables.load]]. */
class TablesSpec extends SparkSpec {

  /** Jobs `body` submits. Counts only jobs in a job group of its own,
    * then runs a sentinel job in another group: the listener bus
    * delivers in order, so once the sentinel is seen every earlier
    * job start has been counted.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-sentinel" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus never drained")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

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
