package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

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

  test("a warm load infers nothing, and a rewritten path is re-inferred") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "v"))

    // warm: the schema comes from the memo, so the scan is the only job
    val jobs = jobsOf(noop(Tables.load(spark, dir, "t")))
    assert(jobs == 1, s"warm load + noop write ran $jobs jobs")

    // the same path rewritten in this session, with one more column:
    // the memo key carries the path's modification time
    Seq((1L, "a", 3.0)).toDF("id", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reloaded = Tables.load(spark, dir, "t")
    assert(reloaded.columns.toSeq == Seq("id", "v", "w"))
    assert(reloaded.collect().toSeq.map(_.getDouble(2)) == Seq(3.0))
  }
}
