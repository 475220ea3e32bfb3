package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions._
import graft.operators.{Components, Frames}
import graft.pipeline.{Ann, Dedup, TextAnalysis}

/** Per-layer figures of a traced run, by the names the benchmark's
  * README lists. Op figures are means per timed op; every ratio names
  * its base.
  */
object Layers {
  import Workload.{mean, median, noop, timeMs}

  def report(ctx: Ctx, wl: Workload, recs: Seq[OpRec], t: Tracer,
             firstCall: Map[String, Double]): Map[String, Any] = {
    val base = ops(ctx, wl, recs, t, firstCall)
    // the layers the two workloads BENCHMARK.json lists do not reach on
    // their own run beside them: streaming with log_query, the corpus
    // pipeline with table_mutation
    val companion = wl match {
      case _: LogQuery => follow(new Ctx(ctx.spark, s"${ctx.in}/follow",
        s"${ctx.work}/companion"), t)
      case _: TableMutation => corpus(new Ctx(ctx.spark, s"${ctx.in}/corpus",
        s"${ctx.work}/companion"), t)
      case _ => Map.empty[String, Any]
    }
    base ++ companion
  }

  private def ops(ctx: Ctx, wl: Workload, recs: Seq[OpRec], t: Tracer,
                  firstCall: Map[String, Double]): Map[String, Any] = {
    val ok = recs.filter(_.ok)
    val cs = ok.map(r => t.counters.getOrElse(r.id, new SparkCounters))
    def perOp(f: SparkCounters => Double): Double = mean(cs.map(f))
    val queries = ok.filter(_.query)
    val inRecords = cs.map(_.inputRecords).sum.toDouble
    val outRecords = cs.map(_.outputRecords).sum.toDouble

    val spark = Map[String, Any](
      "spark.jobs" -> perOp(_.jobs.toDouble),
      "spark.stages" -> perOp(_.stages.toDouble),
      "spark.tasks" -> perOp(_.tasks.toDouble),
      "spark.task_cpu_ms" -> perOp(_.taskCpuNs / 1e6),
      "spark.task_run_ms" -> perOp(_.taskRunMs.toDouble),
      "spark.gc_ms" -> perOp(_.gcMs.toDouble),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleReadBytes.toDouble),
      "spark.shuffle_records" -> perOp(_.shuffleRecords.toDouble),
      "spark.spill_bytes" -> perOp(_.spillBytes.toDouble),
      "spark.exchanges" -> perOp(_.exchanges.toDouble),
      "spark.idle_slot_ms" -> perOp(_.idleSlotMs.toDouble))

    val phases = Map[String, Any](
      "op.build_ms" -> mean(queries.map(_.buildMs)),
      "op.plan_ms" -> mean(queries.map(_.planMs)),
      "op.exec_ms" -> mean(queries.map(_.execMs)))

    val tables = Map[String, Any](
      "tables.scan_ms" -> wl.tables(ctx).map { case (dir, name) =>
        timeMs(3)(noop(Tables.load(ctx.spark, dir, name)))
      }.sum,
      "tables.files_read" -> perOp(_.filesRead.toDouble),
      "tables.bytes_read" -> perOp(_.inputBytes.toDouble),
      "tables.rows_read" -> perOp(_.inputRecords.toDouble),
      "tables.rows_read_per_row_out" ->
        (if (outRecords > 0) inRecords / outRecords else 0.0))

    // the first call of each kind (set-up, cold JVM) against the
    // kind's warm median in the traced loop
    val coldByKind = firstCall.flatMap { case (k, first) =>
      val warm = ok.filter(_.kind == k).map(_.ms)
      if (warm.isEmpty) None else Some(k -> (first - median(warm)))
    }
    val memo = Map[String, Any](
      "memo.cold_extra_ms" -> coldByKind.values.sum,
      "memo.cold_extra_ms_by_kind" -> coldByKind)

    // self time per op: the client's own share, build, plan, the
    // driver's share of exec, and the jobs' wall
    val self = Map[String, Any]("self_ms" -> Map(
      "client" -> mean(ok.map(r => r.ms - r.buildMs - r.planMs - r.execMs)),
      "build" -> mean(ok.map(_.buildMs)),
      "plan" -> mean(ok.map(_.planMs)),
      "exec_driver" -> mean(ok.zip(cs).map { case (r, c) =>
        math.max(0.0, r.execMs - c.jobWallMs) }),
      "jobs" -> perOp(_.jobWallMs.toDouble)))

    val specific: Map[String, Any] = wl match {
      case _: LogQuery => Map(
        "logs.build_ms" -> phases("op.build_ms"),
        "logs.plan_ms" -> phases("op.plan_ms"),
        "logs.exec_ms" -> phases("op.exec_ms"))
      case m: TableMutation => sources(m, ok, cs)
      case _: LogFollow => streaming(cs)
      case _: CorpusDedup => corpus(ctx, t)
    }
    spark ++ phases ++ tables ++ memo ++ self ++ specific
  }

  private def sources(m: TableMutation, ok: Seq[OpRec],
                      cs: Seq[SparkCounters]): Map[String, Any] = {
    def ms(kind: String) = mean(ok.filter(_.kind == kind).map(_.ms))
    val commits = ok.zip(cs).filter(_._1.commit)
    val tags = commits.map(_._1.tag)
    val stats = tags.flatMap(m.mutation.get)
    val reads = ok.filter(r => !r.commit)
    val pr = ok.filter(_.kind == "read_range").flatMap(r => m.pruning.get(r.tag))
    Map(
      "sources.upsert_ms" -> ms("upsert"),
      "sources.delete_ms" -> ms("delete"),
      "sources.append_ms" -> ms("append"),
      "sources.compact_ms" -> ms("compact"),
      "sources.retired_files" -> mean(stats.map(_.retiredFiles.toDouble)),
      "sources.new_files" -> mean(stats.map(_.newFiles.toDouble)),
      "sources.bytes_written" -> mean(commits.map(_._2.outputBytes.toDouble)),
      "sources.files_written" ->
        mean(tags.flatMap(m.written.get).map(_._2.toDouble)),
      "sources.files_live" -> mean(tags.flatMap(m.state.get).map(_._1.toDouble)),
      "sources.manifest_lines" ->
        mean(tags.flatMap(m.state.get).map(_._2.toDouble)),
      "sources.prune_ratio" ->
        (if (pr.isEmpty) 0.0 else pr.map(_._1).sum.toDouble / pr.map(_._2).sum),
      "sources.prune_ratio_base" ->
        "files kept by manifest partition pruning / live files, read_range reads",
      "sources.read_plan_ms" -> mean(reads.map(_.planMs)))
  }

  /** Two rounds of the log_follow script in the traced session; the
    * streaming figures come from the second, warm round.
    */
  private def follow(ctx: Ctx, t: Tracer): Map[String, Any] = {
    val script = Json.read(java.nio.file.Paths.get(ctx.in, "script.json"))
    val f = new LogFollow(script)
    f.start(ctx)
    val round = script.get("round").asInt
    val recs = (0 until 2 * round).flatMap(i =>
      f.next(ctx).map(op => Main.run(ctx, f, op, s"follow$i", Some(t))))
    streaming(recs.drop(round).map(r =>
      t.counters.getOrElse(r.id, new SparkCounters)))
  }

  private def streaming(cs: Seq[SparkCounters]): Map[String, Any] = {
    val ps = cs.flatMap(_.progress)
    def dur(k: String) = mean(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    Map(
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.input_rows" -> mean(ps.map(_.numInputRows.toDouble)),
      "streaming.state_rows" ->
        mean(ps.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble)),
      "streaming.state_memory_bytes" ->
        mean(ps.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble)),
      "streaming.state_partitions" ->
        mean(ps.map(_.stateOperators.map(_.numShufflePartitions).sum.toDouble)),
      "streaming.progress_events" -> ps.size)
  }

  /** Expression, pipeline and operator probes over the generated
    * corpus, each a separate call outside the op loop.
    */
  private def corpus(ctx: Ctx, t: Tracer): Map[String, Any] = {
    val s = ctx.spark
    val d = ctx.in
    val copies = 20
    val reps = s.range(copies).toDF("rep")
    val docs = Tables.documents(s, d)
      .select(TextAnalysis.normText(col("text")).as("txt"))
      .crossJoin(reps)
      .select(col("txt"),
        array_sort(Dedup.shingles("txt")).as("sh"),
        array_sort(Dedup.shingles("concat(substring(txt, 7), 'tail')")).as("sh2"))
      .cache()
    val nDocs = docs.count()
    val vecs = Tables.embeddings(s, d)
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
      .crossJoin(reps)
      .select(col("v"), reverse(col("v")).as("v2"))
      .cache()
    val nVecs = vecs.count()
    def nsPerRow(df: DataFrame, n: Long)(c: org.apache.spark.sql.Column): Double =
      timeMs(3)(noop(df.select(c.as("x")))) * 1e6 / n
    val fn = Map[String, Any](
      "functions.minhash_signature_ns_per_row" ->
        nsPerRow(docs, nDocs)(minhash_signature(col("sh"), 64)),
      "functions.sorted_intersect_atleast_ns_per_row" ->
        nsPerRow(docs, nDocs)(sorted_intersect_atleast(col("sh"), col("sh2"),
          (size(col("sh")) / 2).cast("int"))),
      "functions.winnow_fps_ns_per_row" ->
        nsPerRow(docs, nDocs)(winnow_fps(col("txt"), 5, 4)),
      "functions.cdc_chunks_ns_per_row" ->
        nsPerRow(docs, nDocs)(cdc_chunks(col("txt"))),
      "functions.rolling_hash_ns_per_row" ->
        nsPerRow(docs, nDocs)(rolling_hash(col("txt"))),
      "functions.cosine_sim_ns_per_row" ->
        nsPerRow(vecs, nVecs)(cosine_sim(col("v"), col("v2"))),
      "functions.hyperplane_buckets_ns_per_row" ->
        nsPerRow(vecs, nVecs)(hyperplane_buckets(col("v"), 4, 8)))
    docs.unpersist()
    vecs.unpersist()

    def once(df: => DataFrame): Double = timeMs(1)(noop(df))
    val candidates = Dedup.dedupBandStats(s, d)
      .agg(sum("cand_pairs")).head().getLong(0)
    val pairsOut = Dedup.lshJaccardPairs(s, d, minBp = 6500).count()
    val pipeline = Map[String, Any](
      "pipeline.lsh_pairs_ms" -> once(Dedup.lshJaccardPairs(s, d, minBp = 6500)),
      "pipeline.winnow_pairs_ms" -> once(Dedup.winnowPairs(s, d)),
      "pipeline.cdc_pairs_ms" -> once(Dedup.cdcPairs(s, d)),
      "pipeline.embedding_pairs_ms" -> once(Dedup.embeddingPairs(s, d, threshold = 0.45)),
      "pipeline.union_edges_ms" ->
        once(Dedup.unionEdges(s, d, includeCdc = false, embIvf = false)),
      "pipeline.knn_join_ms" -> once(Ann.knnJoinGate(s, d)),
      "pipeline.candidates" -> candidates,
      "pipeline.pairs_out" -> pairsOut,
      "pipeline.verify_yield" ->
        (if (candidates > 0) pairsOut.toDouble / candidates else 0.0),
      "pipeline.verify_yield_base" ->
        "LSH pairs out / sum of C(n,2) over dedup_band_stats bucket occupancy")

    val edges = Dedup.unionEdges(s, d, includeCdc = false, embIvf = false)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val tm = System.nanoTime()
    val frozen = Frames.materialize(edges)
    val materializeMs = (System.nanoTime() - tm) / 1e6
    val nodes = Tables.documents(s, d).select(col("doc_id").as("node"))
    val tc = System.nanoTime()
    t.within("probe-components")(noop(Components.connectedComponents(nodes, frozen)))
    val componentsMs = (System.nanoTime() - tc) / 1e6
    Frames.drop(frozen)
    val operators = Map[String, Any](
      "operators.materialize_ms" -> materializeMs,
      "operators.components_ms" -> componentsMs,
      "operators.components_jobs" ->
        t.counters.get("probe-components").map(_.jobs).getOrElse(0L))
    fn ++ pipeline ++ operators
  }
}
