package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.logs.LogView

/** Streaming counterparts of batch operators, all drained with
  * `Trigger.AvailableNow` so the result is batch-equivalent and the
  * DuckDB oracle checks the STREAMING path against the same SQL as
  * the batch one — the strongest gate a streaming operator can have.
  */
object StreamOps {

  /** Shared drain scaffold: one testdata table as a file stream →
    * `transform` → memory sink, AvailableNow-drained to completion.
    * The stream lives in [[sizedForState]]'s child session, and so
    * must the transform's result (start from the stream, or build
    * static sides from `stream.sparkSession`): a frame of the caller's
    * session would run the stream with the caller's partition count.
    * The schema comes from the batch loader (explicit — stream
    * sources must never infer), and the glob pins the stream to the
    * one table file. Every streaming operator here differs ONLY in
    * its transform, output mode and sink name; a change to the drain
    * pattern (trigger, checkpointing) lands in exactly one place.
    */
  private def drain(spark: SparkSession, dir: String, table: String,
                    name: String, mode: String)(
      transform: DataFrame => DataFrame): DataFrame =
    sizedForState(spark,
      derived = Some(derivedStateFor(spark, dir, table))) { child =>
      toMemory(spark, transform(Tables.stream(child, dir, table)), name, mode)
    }

  /** Drains `result`, a stream of [[sizedForState]]'s child session,
    * AvailableNow into the memory sink `name`, and returns the sink's
    * table as a frame of the CALLER's session: batch work on the
    * drained rows (the sorts and windows after every drain) plans
    * with the caller's conf, not the state-sized partition count, and
    * reaches the caller's query-execution listeners.
    */
  private[streaming] def toMemory(spark: SparkSession, result: DataFrame,
                                  name: String, mode: String): DataFrame = {
    result.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    org.apache.spark.sql.GraftFrames.rebind(spark, result.sparkSession.table(name))
  }

  /** Footer-derived row count of the drained table, memoized per
    * (session, path) — the arrival-rate input for
    * [[statePartitionsFor]], so state partitioning is derived from
    * the ACTUAL source size (scale-adaptive, guide §2) instead of a
    * constant tuned for one scale factor. Metadata-only (parquet
    * footers), no job.
    */
  private[streaming] def tableRows(spark: SparkSession, dir: String,
                                   table: String): Long =
    graft.Memo(spark, "table-rows", s"$dir/$table") {
      try graft.sources.StorageStats.parquetRowCount(spark, s"$dir/$table.parquet")
      catch { case _: Throwable => 400000L }
    }

  /** The drain-site derived partition count: the arrival-rate formula
    * bounded BELOW by a small compute floor — a tiny batch still
    * parallelizes its per-batch join/probe work (the incremental-dedup
    * drain at 1 state partition serialized its candidate join:
    * measured 2x). The floor stays well under the core count so the
    * per-store setup overhead the formula exists to avoid stays
    * bounded.
    */
  private[streaming] def derivedStateFor(spark: SparkSession, dir: String,
                                         table: String): Int =
    math.max(statePartitionsFor(tableRows(spark, dir, table)),
      math.min(8, spark.sparkContext.defaultParallelism))

  /** Session conf key overriding the streaming state partition count
    * for every drain in this module — the deploy-time tuning knob
    * (the first checkpoint pins whatever value it sees).
    */
  val StatePartitionsConf = "spark.graft.streaming.statePartitions"

  /** The arrival-rate formula behind the default: one state store
    * per shuffle partition per micro-batch is pure constant overhead
    * (the stream-stream join opens FOUR), so partitions should track
    * rows-per-batch, not cluster width — enough that each store's
    * slice stays comfortably in memory, no more.
    */
  def statePartitionsFor(rowsPerBatch: Long,
                         targetRowsPerPartition: Long = 12500L): Int = {
    // overflow-safe ceil division (rowsPerBatch may be Long.MaxValue)
    val ceilDiv = rowsPerBatch / targetRowsPerPartition +
      (if (rowsPerBatch % targetRowsPerPartition > 0) 1L else 0L)
    math.max(1L, math.min(2048L, ceilDiv)).toInt
  }

  /** Run a start-and-drain `body` with STREAMING state partitioning
    * sized to the drain's arrival rate. State partitioning is an
    * arrival-rate knob, not a data-size knob: every stateful operator
    * opens one state store per shuffle partition per micro-batch, so
    * the batch-sized session default pays N store setups of pure
    * constant overhead per batch (measured 2.5× on
    * attribution_stream's drain at local[32]).
    *
    * Sizing precedence: explicit `n` > [[StatePartitionsConf]] >
    * [[statePartitionsFor]] of the drain's batch size (AvailableNow
    * delivers the whole table as ~one batch; 4e5 rows at sf0.1 → 8
    * partitions). `body` gets a child session of `spark` holding the
    * parent's modifiable SQL conf and streaming listeners, with
    * `spark.sql.shuffle.partitions` set to the target; it builds its
    * stream from the child and hands the drained rows back through
    * [[toMemory]]. The parent session's conf is never touched, so
    * drains and concurrently-warming queries share no conf window.
    * One child serves every drain of a (session, target) pair, one
    * drain at a time: a session's StreamingQueryManager registers a
    * listener on the SparkContext's bus that is never removed, so a
    * child per drain would grow the bus with every drain.
    */
  private[streaming] def sizedForState[T](spark: SparkSession,
                                          n: Option[Int] = None,
                                          derived: Option[Int] = None)(
      body: SparkSession => T): T = {
    val target = n
      .orElse(spark.conf.getOption(StatePartitionsConf).map(_.toInt))
      .orElse(derived)
      .getOrElse(statePartitionsFor(400000L))
    val child = graft.Memo(spark, "state-session", (spark, target))(spark.newSession())
    child.synchronized {
      val conf = spark.conf.getAll.filter { case (k, _) => spark.conf.isModifiable(k) }
      child.conf.getAll.keys.foreach { k =>
        if (!conf.contains(k) && child.conf.isModifiable(k)) child.conf.unset(k)
      }
      conf.foreach { case (k, v) => child.conf.set(k, v) }
      child.conf.set("spark.sql.shuffle.partitions", target.toString)
      // the drain is the caller's query: its progress reaches exactly
      // the caller's streaming listeners
      val want = spark.streams.listListeners().toSet
      val have = child.streams.listListeners().toSet
      (have -- want).foreach(child.streams.removeListener)
      (want -- have).foreach(child.streams.addListener)
      body(child)
    }
  }

  /** The [[graft.logs.Shaping.timeseries]] rollup as an incremental
    * windowed aggregation: watermarked event-time 1-hour windows over
    * the log stream — the dashboard query kept continuously up to
    * date instead of recomputed. State is bounded by the watermark
    * (late data beyond 1 h is dropped); at 100 TB this runs against
    * Kafka with the same plan. Complete output here because
    * AvailableNow drains a finite source (append would hold back the
    * final unexpired windows).
    */
  def timeseriesStream(spark: SparkSession, dir: String): DataFrame =
    drain(spark, dir, "events", "graft_timeseries_stream", "complete") {
      stream =>
        LogView.fromEvents(stream)
          .withColumn("ts", timestamp_micros(col("timestamp")))
          .withWatermark("ts", "1 hour")
          .groupBy(col("site"), window(col("ts"), "1 hour").as("w"))
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("status") >= 200 && col("status") < 300, 1)
              .otherwise(0)).as("n_2xx"),
            sum(when(col("status") >= 400 && col("status") < 500, 1)
              .otherwise(0)).as("n_4xx"),
            sum(when(col("status") >= 500, 1).otherwise(0)).as("n_5xx"),
            sum("traffic_sent").as("bytes_sent"))
          .select(col("site"),
            expr("unix_micros(w.start) div 3600000000").as("hour_bucket"),
            col("n"), col("n_2xx"), col("n_4xx"), col("n_5xx"),
            col("bytes_sent"))
    }.orderBy("site", "hour_bucket")

  /** Streaming exact dedup: the ingestion-time variant of
    * [[graft.pipeline.TextAnalysis.dedupExact]] — drop every document
    * whose normalized-content hash was already seen, as data arrives.
    * `dropDuplicates` keeps per-key state in the state store (the
    * distributed analogue of an ingest-dedup bloom/KV set); in a
    * production stream a watermark bounds it to a dedup window,
    * unbounded here because the drain is finite. Emits the distinct
    * hash set — order-insensitive, so the gate compares it exactly
    * against batch DISTINCT.
    */
  def dedupExactStream(spark: SparkSession, dir: String): DataFrame =
    drain(spark, dir, "documents", "graft_dedup_stream", "append") {
      stream =>
        stream
          .select(md5(graft.pipeline.TextAnalysis.normText(col("text")))
            .as("content_hash"))
          .dropDuplicates("content_hash")
    }.orderBy("content_hash")

  /** Ingestion-time PII redaction: [[graft.pipeline.Curation.piiScrub]]
    * as a streaming map over arriving documents — scrubbing belongs at
    * the ingest boundary (PII must never land in the corpus at rest).
    * Stateless append-mode transform sharing the batch operator's
    * expression tree ([[graft.pipeline.Curation.piiScrubOf]]), so the
    * gate runs the stream against the SAME oracle as the batch form.
    */
  def piiScrubStream(spark: SparkSession, dir: String): DataFrame =
    drain(spark, dir, "documents", "graft_pii_scrub_stream", "append") {
      stream => graft.pipeline.Curation.piiScrubOf(stream)
    }.orderBy("doc_id")

  /** Ingestion-time text normalisation: the C4-style cleanup chain
    * ([[graft.pipeline.TextAnalysis.normalizeChain]]) as a stateless
    * streaming map over arriving documents — normalisation belongs at
    * the ingest boundary so every downstream pass (dedup keys, quality
    * scores, tokenisation) sees one canonical form. Batch and stream
    * share one expression tree and ONE oracle.
    */
  def textNormalizeStream(spark: SparkSession, dir: String): DataFrame =
    drain(spark, dir, "documents", "graft_text_norm_stream", "append") {
      stream => graft.pipeline.TextAnalysis.textNormalizeOf(stream)
    }.orderBy("doc_id")

  /** Ingestion-time Gopher rule filtering: the document-shape
    * heuristics ([[graft.pipeline.TextAnalysis.gopherRulesOf]]) run
    * as a stateless streaming map over arriving documents — rule
    * verdicts belong at the ingest boundary so rejected documents
    * never cost downstream dedup/scoring work. Batch and stream share
    * one expression tree and ONE oracle, so they cannot drift.
    */
  def gopherRulesStream(spark: SparkSession, dir: String): DataFrame =
    drain(spark, dir, "documents", "graft_gopher_stream", "append") {
      stream => graft.pipeline.TextAnalysis.gopherRulesOf(stream)
    }.orderBy("doc_id")

  /** Streaming ANN serving: query vectors ARRIVE as a stream and
    * probe the persisted IVF index
    * ([[graft.pipeline.Ann.ivfIndexWrite]]) — the online-retrieval
    * shape (a query service, not a batch sweep). Per micro-batch:
    *
    *  1. cell routing is the shared two-level router expression
    *     ([[graft.pipeline.Ann.routeProbeExpr]] — pure per-row
    *     compute, no window, no model state, streaming-legal);
    *  2. candidates come from a stream-static join against the
    *     cell-partitioned index (the static side prunes to probed
    *     cells);
    *  3. the running top-k per query is a complete-mode aggregate
    *     whose state is one candidate list per in-flight query,
    *     bounded by nprobe × cell occupancy (a long-lived service
    *     would evict finished queries by watermark; the drain here
    *     ends with the source).
    *
    * Result rows are IDENTICAL to the batch
    * [[graft.pipeline.Ann.ivfTopKIndexed]] over the same index —
    * asserted row-for-row in StreamingAggSpec, which is the gate
    * (cells are engine-specific, so no SQL oracle — same discipline
    * as `ann_ivf`).
    */
  def annStream(spark: SparkSession, dir: String,
                nQueries: Int = 5, k: Int = 10,
                cells: Int = 16, nprobe: Int = 4): DataFrame = {
    val index = graft.pipeline.Ann.ivfIndexRead(spark,
      graft.pipeline.Ann.ivfIndexFor(spark, dir, cells))
    val router = graft.pipeline.Ann.routerFromCenters(index.centers)
    // router rides as a LITERAL here (streaming-legal per-row compute;
    // the broadcast fallback would be a stream-static cross join and
    // the query side is a handful of rows anyway)
    val routerCol = graft.pipeline.Ann.routerLit(router)
    val agg = drain(spark, dir, "embeddings", "graft_ann_stream", "complete") {
      stream =>
        val q = stream.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("q_id"),
            expr("transform(embedding, x -> cast(x as double))").as("v"))
        q.select(col("q_id"), col("v").as("qv"),
            explode(graft.pipeline.Ann.routeProbeExpr(
              routerCol, router, nprobe)).as("cell"))
          .join(index.assigned, Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            graft.functions.cosine_sim(col("qv"), col("v")).as("cos"))
          // bounded running top-k: sort-then-slice keeps only k rows
          // visible; state is the per-query candidate list
          .groupBy("q_id")
          .agg(slice(array_sort(collect_list(
            struct((-col("cos")).as("nc"), col("n_id").as("n_id")))),
            1, k).as("top"))
    }
    agg.select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.n_id").as("n_id"))
      .orderBy("q_id", "rank")
  }

  /** Continuous-ingestion NEAR-dup dedup: arriving documents probe
    * the persisted MinHash band index
    * ([[graft.pipeline.Dedup.bandIndexWriteOf]]) with stream-static
    * joins — the streaming counterpart of `dedup_incremental_indexed`,
    * and the terminal shape of the nightly pipeline: the corpus is
    * signed once at layout time, then never re-read OR re-shuffled no
    * matter how long the stream runs (each micro-batch broadcasts its
    * arrivals' band keys against the static index). Only the
    * candidate-pair dedup holds state. Gated against the same
    * block-exact batch×corpus oracle as the batch forms.
    */
  def dedupIncrementalStream(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.pipeline.Dedup.bandIndexFor(spark, dir, 64, 32)
    drain(spark, dir, "documents", "graft_inc_dedup_stream", "append") {
      stream =>
        graft.pipeline.Dedup.incrementalStreamProbe(stream.sparkSession,
          graft.pipeline.Dedup.normedOf(stream)
            .filter(col("doc_id") % 7 === 0), idx)
    }.orderBy("new_id", "dup_of")
  }

  /** The receiver counters maintained LIVE over an arriving capture
    * stream — pond's STATS command against a running receiver
    * (reference src/Protocol.hxx:236-263: the counters are cumulative
    * server state, polled while datagrams arrive). The fault-bearing
    * capture ([[graft.sources.DatagramSource.writeStatsCapture]]) is
    * consumed as a `binaryFile` FILE STREAM (each capture file = one
    * arriving batch of datagrams), every file classified by the same
    * [[graft.sources.DatagramCodec.parseStats]] walk as the batch
    * operator, and the four counters folded by an incremental global
    * aggregate — state is FOUR longs regardless of stream length.
    * Gated against the identical batch oracle.
    */
  def datagramStatsStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = graft.sources.TmpDir.scoped("datagram_stats_stream",
      spark.sparkContext.applicationId, dir)
    graft.sources.DatagramSource.writeStatsCapture(
      spark, LogView(spark, dir), tmp)
    // binaryFile's fixed schema — stream sources must never infer
    val schema = new org.apache.spark.sql.types.StructType()
      .add("path", "string").add("modificationTime", "timestamp")
      .add("length", "long").add("content", "binary")
    sizedForState(spark, derived = Some(
      derivedStateFor(spark, dir, "events"))) { child =>
      toMemory(spark, child.readStream.format("binaryFile")
        .schema(schema).load(tmp)
        .select(col("content")).as[Array[Byte]]
        .map(graft.sources.DatagramCodec.parseStats(_))
        .agg(
          sum("nReceived").as("n_received"),
          sum("nMalformed").as("n_malformed"),
          sum("nDiscarded").as("n_discarded"),
          sum("nParsed").as("n_parsed")),
        "graft_datagram_stats_stream", "complete")
    }
  }

  /** [[graft.logs.Shaping.accumulateTop]] as a live top-N: the
    * per-value counts are maintained incrementally (complete-mode
    * grouped count — bounded state, one row per distinct value); the
    * top-10 cut happens on the drained table, where it is a
    * TakeOrderedAndProject over the aggregate, exactly like batch.
    * Gated against the identical batch oracle.
    */
  def accumulateTopStream(spark: SparkSession, dir: String): DataFrame =
    drain(spark, dir, "events", "graft_accumulate_top_stream", "complete") {
      stream =>
        LogView.fromEvents(stream)
          .filter(col("remote_host").isNotNull)
          .groupBy(col("remote_host").as("value"))
          .agg(count(lit(1)).as("n"))
    }.orderBy(col("n").desc, col("value")).limit(10)

  /** STREAM-STREAM interval join — the last join class: purchases
    * attributed to every view by the same user in the preceding hour,
    * both sides streaming. Each side carries its own event-time
    * watermark and the join condition bounds the time skew
    * (`pt ∈ [vt, vt+1h]`), which is exactly what lets Structured
    * Streaming EVICT buffered state: a view older than the watermark
    * minus the interval can never match a future purchase and is
    * dropped. Inner-join matches emit as they form, so the
    * AvailableNow drain yields precisely the batch join — gate-checked
    * against the equivalent DuckDB interval join.
    */
  def attributionStream(spark: SparkSession, dir: String): DataFrame =
    drain(spark, dir, "events", "graft_attribution_stream", "append") {
      attributionJoin
    }.orderBy("p_id", "v_id")

  /** The attribution join body over any events-shaped stream —
    * factored out so StateBoundSpec can drive it with multi-batch
    * input and assert the state-store eviction.
    *
    * State-size formula (SURVEY §4): each side buffers only rows
    * newer than `watermark − interval`, so steady-state store size is
    * `rows/hour(views) · 2h + rows/hour(purchases) · 2h` — arrival
    * RATE bounded, independent of stream length.
    */
  def attributionJoin(stream: DataFrame): DataFrame = {
    val views = stream.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"),
        col("event_id").as("v_id"),
        timestamp_micros(expr("ts div 1000")).as("vt"))
      .withWatermark("vt", "1 hour")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("p_id"),
        timestamp_micros(expr("ts div 1000")).as("pt"))
      .withWatermark("pt", "1 hour")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("pt") >= col("vt") &&
        col("pt") <= col("vt") + expr("INTERVAL 1 HOUR"))
      .select(col("p_id"), col("v_id"))
  }

  /** Stream-static join: the live log stream enriched against the
    * broadcast GeoIP range dim ([[graft.logs.Enrich.geoip]] — the
    * SAME bucketed-broadcast-hash-join code path as batch; Structured
    * Streaming joins a static broadcast side into every micro-batch
    * without extra state), rolled up per country. This is the
    * canonical streaming-enrichment shape at 100 TB: dims broadcast,
    * facts stream, only the aggregate is stateful.
    */
  def geoipStream(spark: SparkSession, dir: String): DataFrame =
    drain(spark, dir, "events", "graft_geoip_stream", "complete") {
      stream =>
        graft.logs.Enrich.geoip(spark, LogView.fromEvents(stream))
          .groupBy("country")
          .agg(count(lit(1)).as("n"),
            sum("traffic_sent").as("bytes_sent"))
    }.orderBy("country")

  /** [[graft.analytics.Analytics.qSessionize]] as a NATIVE streaming
    * session window. Boundary subtlety (verified empirically on
    * Spark 4.1.2): `session_window(t, g)` MERGES two events exactly
    * `g` apart, while the batch operator's rule is `gap >= gapUs ⇒
    * new session`. With µs-integral event times the two agree iff the
    * window gap is `gapUs − 1` µs: merge ⇔ gap ≤ gapUs−1 ⇔
    * gap < gapUs. The gap is passed in microseconds (never floored to
    * seconds), and duration is recovered as `end − (gapUs−1) − start`
    * since `end = max event time + window gap`. State is
    * per-open-session and watermark-bounded; the gate compares the
    * result against the SAME oracle as the hand-rolled batch
    * sessionization — two different algorithms (stateful merge vs
    * lag/cumsum window) must produce identical sessions, including at
    * exact-gap boundaries (SessionWindowBoundarySpec pins the rule).
    */
  def sessionizeStream(spark: SparkSession, dir: String,
                       gapUs: Long = 1800000000L): DataFrame = {
    require(gapUs >= 2, s"gapUs must be >= 2 µs, got $gapUs")
    val winGapUs = gapUs - 1
    val sessions =
      drain(spark, dir, "events", "graft_sessionize_stream", "complete") {
        stream =>
          stream
            .select(col("user_id"),
              timestamp_micros(expr("ts div 1000")).as("t"))
            .withWatermark("t", "1 hour")
            .groupBy(col("user_id"),
              session_window(col("t"), s"$winGapUs microseconds").as("w"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("user_id"),
              expr("unix_micros(w.start)").as("start_us"),
              expr("unix_micros(w.end)").as("end_us"),
              col("n_events"))
      }
    val seq = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("start_us")
    sessions
      .withColumn("session_seq", row_number().over(seq).cast("long"))
      .select(col("user_id"), col("session_seq"), col("n_events"),
        (col("end_us") - lit(winGapUs) - col("start_us")).as("duration_us"))
      .orderBy("user_id", "session_seq")
  }

  /** [[graft.logs.Shaping.stats]] as a continuously-maintained global
    * aggregate — pond's STATS counters (record/byte totals, time
    * range) kept live over the stream instead of recomputed. All five
    * measures are commutative monoids (count/sum/min/max), so the
    * incremental state is five longs and the result is exactly the
    * batch answer once the AvailableNow drain completes — gated
    * against the SAME oracle SQL as batch `stats`.
    */
  def statsStream(spark: SparkSession, dir: String): DataFrame =
    drain(spark, dir, "events", "graft_stats_stream", "complete") {
      stream =>
        LogView.fromEvents(stream)
          .agg(
            count(lit(1)).as("record_count"),
            sum("traffic_sent").as("bytes_sent"),
            sum("traffic_received").as("bytes_received"),
            min("timestamp").as("first_us"),
            max("timestamp").as("last_us"))
    }

  /** Continuous ingestion INTO a snapshot table: every micro-batch
    * lands as one [[graft.sources.SnapshotOps.append]] commit — new
    * files only, live data never rewritten, atomic per-batch
    * visibility (a reader pins complete batch boundaries, never a
    * torn batch) — with the batch id as the append's idempotency key,
    * so a restarted stream re-delivering a micro-batch commits
    * nothing twice (exactly-once at the TABLE, not just the sink).
    * This is the write half of the table-format contract the
    * follow/changes readers consume.
    */
  def ingestSnapshot(spark: SparkSession, srcDir: String, table: String,
                     tableDir: String, checkpointDir: String,
                     maxFilesPerTrigger: Option[Int] = None): Unit = {
    val stream0 = Tables.stream(spark, srcDir, table)
    val stream = maxFilesPerTrigger match {
      case Some(n) =>
        // re-open with the batching knob (file-source option)
        val schema = spark.read.parquet(s"$srcDir/$table.parquet").schema
        Tables.normalize(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", n)
          .parquet(pathOf(spark, srcDir, table)))
      case None => stream0
    }
    val q = stream
      .withColumn("date",
        expr("date(timestamp_micros(ts div 1000))").cast("string"))
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        graft.sources.SnapshotOps.append(
          b.sparkSession, tableDir, b, "date", Some(s"ingest-$id"))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def pathOf(spark: SparkSession, srcDir: String,
                     table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$srcDir/$table.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.getFileStatus(p).isDirectory) s"$p/*.parquet" else p.toString
  }

  /** Gate query: drain the events stream into the session's snapshot
    * table (fresh on the first invocation, checkpoint-resumed replays
    * after), then roll the snapshot-isolated read up by date; the
    * oracle is the plain batch rollup of the same source, so the gate
    * proves ingest lost and duplicated nothing — including across
    * replays.
    */
  def snapshotIngestStream(spark: SparkSession, dir: String): DataFrame = {
    val appId = spark.sparkContext.applicationId
    val tableDir = graft.sources.TmpDir.scoped("snapingest", appId, dir)
    val ckpt = graft.sources.TmpDir.scoped("snapingestck", appId, dir)
    // first invocation per session: a complete from-scratch ingest
    // (table and checkpoint cleared). Later invocations re-drain over
    // the SAME checkpoint: AvailableNow finds nothing new and commits
    // nothing (exactly-once replay — SnapshotSpec proves it), so warm
    // samples price the steady-state poll of an up-to-date ingest —
    // source listing + checkpoint resume + snapshot read — which is
    // what a 100 TB continuous ingest pays between arrivals.
    def ingest(): Unit = ingestSnapshot(spark, dir, "events", tableDir, ckpt)
    val fresh = graft.Memo.bootstrap(spark, "snapingest", dir) {
      val conf = spark.sessionState.newHadoopConf()
      Seq(tableDir, ckpt).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(conf).delete(p, true)
      }
      ingest()
    }
    if (!fresh) ingest()
    graft.sources.Snapshot.read(spark, tableDir)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
      .orderBy("date")
  }

  /** Gate query: the change-data feed consumed as a STREAM — the
    * consumer half of the table-format contract done with Structured
    * Streaming instead of the batch poll loop
    * ([[graft.sources.SnapshotFollow.followChanges]]): the follower's
    * per-version delta dirs are a partitioned file-streaming source
    * (`version=` discovery via basePath), the rollup is a streaming
    * aggregation in complete mode, and AvailableNow drains exactly
    * the committed feed. At 100 TB this is the downstream shape for
    * continuous consumers (index refresh, replica apply): file-source
    * checkpointing gives exactly-once version discovery, and each
    * micro-batch is churn-sized — the deltas, never the table.
    *
    * Hash-gated against the SAME relational oracle as
    * `snapshot_changes_follow` (both roll up the identical feed), so
    * batch poll and stream drain can never drift apart silently.
    */
  def snapshotCdcStream(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.SnapshotFollow.followFixture(spark, dir)
    // schema incl. the `version` partition column, exactly as batch
    // discovery infers it over the same layout
    val sch = spark.read.parquet(out).schema
    val n = cdcStreamSeq.incrementAndGet()
    val name = s"snapshot_cdc_stream_$n"
    val ckpt = graft.sources.TmpDir.scoped("snapcdcck",
      spark.sparkContext.applicationId, dir) + s"/$n"
    val q = spark.readStream.schema(sch)
      .option("basePath", out)
      .parquet(s"$out/version=*")
      .groupBy(col("version"), col("op"), col("date"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy("version", "op", "date")
  }

  private val cdcStreamSeq = new java.util.concurrent.atomic.AtomicLong(0)
}
