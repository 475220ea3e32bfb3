package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per suite, configured
  * exactly like Verify/Bench ([[GraftSession]]).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf: String = "/root/testdata/sf0.001"
  val sf01: String = "/root/testdata/sf0.01"

  /** An sf directory holding `sf`'s events rewritten as 8 files: the
    * same rows with more input splits than cores, as any multi-file
    * table on a real deployment has.
    */
  lazy val sfMultiFile: String = {
    val dir = java.nio.file.Files.createTempDirectory("evmulti").toString
    Tables.events(spark, sf).repartition(8)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Jobs `body` submits. */
  protected def jobsOf(body: => Unit): Int = jobPropertiesOf(body).size

  /** The local properties of every job `body` submits (SQL executions
    * carry the session's set SQL conf there). Counts only jobs in a
    * job group of its own, then runs a sentinel job in another group:
    * the listener bus delivers in order, so once the sentinel is seen
    * every earlier job start has been seen.
    */
  protected def jobPropertiesOf(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(js.properties)
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
      jobs.toArray(Array.empty[java.util.Properties]).toSeq
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // keep the session for the next suite (getOrCreate shares it)
    super.afterAll()
  }
}
