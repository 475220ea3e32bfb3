package graft.streaming

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tables}
import org.apache.spark.ListenerBusProbe
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Proves the stream-stream attribution join's state store is
  * watermark-BOUNDED, not append-only: fed the same month of events
  * in day-ordered micro-batches, buffered state must stay around the
  * per-batch arrival volume (the watermark evicts views/purchases
  * older than `watermark − interval`), never accumulate the stream.
  * This is the 100 TB viability property — an unbounded join state
  * OOMs a real cluster in hours.
  */
class StateBoundSpec extends SparkSpec {

  test("attribution join state is evicted by the watermark across batches") {
    // six chunk files of ~5 days each, written sequentially so the
    // file-stream source (ordered by mod time) replays them in event
    // order, maxFilesPerTrigger=1 → one chunk per micro-batch
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .withColumn("chunk", // days 1..30 → chunks 0..5
        expr("(dayofmonth(timestamp_micros(ts div 1000)) - 1) div 5"))
    val streamDir = java.nio.file.Files
      .createTempDirectory("graft_statebound").toString
    val nChunks = 6
    (0 until nChunks).foreach { c =>
      ev.filter(col("chunk") === c).drop("chunk")
        .coalesce(1).write.mode("append").parquet(streamDir)
      Thread.sleep(1100) // distinct whole-second mod times on any fs
    }
    val stream = spark.readStream
      .schema(ev.drop("chunk").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
    val q = StreamOps.attributionJoin(stream)
      .writeStream.format("memory").queryName("graft_state_bound")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val states = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(p => (p.batchId, p.stateOperators.map(_.numRowsTotal).sum))
    assert(states.length >= nChunks - 1, s"expected ~$nChunks batches: $states")
    val totalRows = ev.count()
    val maxState = states.map(_._2).max
    // without eviction the final batch would hold ~every view+purchase;
    // with the 1h watermark the bound is ~2 batches of arrivals
    assert(maxState < totalRows / 2,
      s"state not evicted: max $maxState of $totalRows rows ($states)")
    // state must not grow monotonically to the end (eviction visibly
    // kicks in once the watermark advances past the first chunks)
    val finalState = states.last._2
    assert(finalState < maxState || maxState < totalRows / 4,
      s"state kept growing: $states")
  }

  test("sizedForState: precedence explicit > conf > formula, and restores") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def inside(child: org.apache.spark.sql.SparkSession): Int = {
      // the drain's sizing lives in the child; the parent never changes
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
      child.conf.get("spark.sql.shuffle.partitions").toInt
    }
    // formula fallback (no explicit/conf/derived: the assumed
    // ~4e5-row batch at 12.5k rows/partition → 32)
    assert(StreamOps.sizedForState(spark)(inside) == 32)
    // session conf override — the deploy-time knob
    spark.conf.set(StreamOps.StatePartitionsConf, "4")
    try {
      assert(StreamOps.sizedForState(spark)(inside) == 4)
      // explicit parameter beats the conf
      assert(StreamOps.sizedForState(spark, Some(16))(inside) == 16)
    } finally spark.conf.unset(StreamOps.StatePartitionsConf)
    // batch queries never see the drain sizing
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    // the formula itself: ceil(rows/target), clamped. Target is
    // 12.5k rows/partition — the measured local optimum (8 partitions
    // at the 100k-row sf0.1 drain; 2 was compute-bound, 32 paid
    // store-setup overhead), applied scale-adaptively from the
    // source's footer row count.
    assert(StreamOps.statePartitionsFor(100000L) == 8)
    assert(StreamOps.statePartitionsFor(400000L) == 32)
    assert(StreamOps.statePartitionsFor(1L) == 1)
    assert(StreamOps.statePartitionsFor(0L) == 1)
    assert(StreamOps.statePartitionsFor(Long.MaxValue) == 2048)
  }

  test("drains of one state size share a child: flat listener bus, results planned by the caller") {
    val sc = spark.sparkContext
    val before = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    spark.conf.set(StreamOps.StatePartitionsConf, "7")
    try {
      val first = StreamOps.dedupExactStream(spark, sf)
      // repeat drains reuse the child's streaming bus. Stateless ones:
      // a stateful query's own session clone opens one more bus per
      // run inside Spark, whichever session starts it
      val bus = ListenerBusProbe.streamingBuses(sc)
      (1 to 3).foreach(_ => StreamOps.piiScrubStream(spark, sf))
      assert(ListenerBusProbe.streamingBuses(sc) == bus)
      // the state ran at the drain's size, and its progress reached
      // the caller's listener
      ListenerBusProbe.drain(sc)
      val stateParts = progress.asScala.toSeq
        .flatMap(_.stateOperators.map(_.numShufflePartitions)).toSet
      assert(stateParts == Set(7L))
      // the drained rows are a frame of the caller: its sort plans
      // with the caller's partition count, not the state size
      assert(first.sparkSession eq spark)
      val plan = first.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val exchanges = plan.collect { case e: ShuffleExchangeLike => e.numPartitions }
      assert(exchanges == Seq(before))
    } finally {
      spark.conf.unset(StreamOps.StatePartitionsConf)
      spark.streams.removeListener(listener)
    }
  }
}
