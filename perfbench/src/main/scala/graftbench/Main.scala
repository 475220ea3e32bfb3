package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession

/** One executed op: wall time and, when traced, its phases. */
final case class OpRec(id: String, kind: String, ms: Double, rows: Long,
                       commit: Boolean, ok: Boolean,
                       buildMs: Double = 0, planMs: Double = 0,
                       execMs: Double = 0, query: Boolean = false,
                       tag: String = "")

/** The benchmark's JVM: one closed-loop client thread driving graft's
  * public functions over a generated input directory.
  *
  * {{{
  * graftbench.Main <workload> <input dir> <work dir> <seconds> <trace 0|1>
  * }}}
  *
  * Set-up (session start, table load, the untimed first call of each
  * op kind) runs once; the session then runs the timed loop for
  * `seconds`. With tracing, an untraced loop runs first as the overhead
  * baseline, then a traced loop and the layer probes. Everything the
  * run measured is written to `<work dir>/result.json` and the spans to
  * `<work dir>/trace.jsonl`.
  */
object Main {
  val MinRounds = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val script = Json.read(Paths.get(in, "script.json"))
    val wl = Workload(workload, script)

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val ctx = new Ctx(spark, in, work)
    val t1 = System.nanoTime()
    wl.start(ctx)
    val t2 = System.nanoTime()
    // the first call of each op kind: the script from its start until
    // every kind it holds has run once
    val firstCall = mutable.LinkedHashMap.empty[String, Double]
    val attempted = mutable.ArrayBuffer.empty[OpRec]
    var more = true
    while (more) wl.next(ctx) match {
      case Some(op) =>
        val r = run(ctx, wl, op, s"s${attempted.size}", None)
        attempted += r
        if (!firstCall.contains(op.kind)) firstCall(op.kind) = r.ms
        more = !wl.kinds.subsetOf(firstCall.keySet)
      case None => more = false
    }
    val t3 = System.nanoTime()

    // whole rounds of the script's op mix: at least `rounds`, and until
    // `seconds` have passed. The JVM is still warming up here, so a run
    // that timed one round less would read slower; a fixed floor keeps
    // runs comparable.
    val round = script.get("round").asInt
    def loop(tracer: Option[Tracer], tag: String,
             rounds: Int): (Seq[OpRec], Double) = {
      val recs = mutable.ArrayBuffer.empty[OpRec]
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      var more = true
      def done = recs.size >= rounds * round && recs.size % round == 0 &&
        System.nanoTime() >= deadline
      while (more && !done)
        wl.next(ctx) match {
          case Some(op) => recs += run(ctx, wl, op, s"$tag${recs.size}", tracer)
          case None => more = false
        }
      (recs.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    val result = mutable.LinkedHashMap.empty[String, Any]
    result("workload") = workload
    result("cpus") = cpus
    result("setup_s") = (t3 - t0) / 1e9
    result("setup_split_s") = Map("session" -> (t1 - t0) / 1e9,
      "tables" -> (t2 - t1) / 1e9, "first_calls" -> (t3 - t2) / 1e9)
    if (traced) {
      // one round each: the layer figures have no bound, and the
      // traced run is the longest of the protocol
      val (base, baseWall) = loop(None, "u", 1)
      attempted ++= base
      val tracer = new Tracer(spark, cpus)
      val (recs, wall) = loop(Some(tracer), "t", 1)
      attempted ++= recs
      val layers = Layers.report(ctx, wl, recs, tracer, firstCall.toMap)
      tracer.close()
      result("untraced") = Map("ops" -> base.size, "wall_s" -> baseWall)
      result("ops") = recs.map(opJson)
      result("wall_s") = wall
      result("layers") = layers
      writeSpans(s"$work/trace.jsonl", recs, tracer)
      result("extra") = wl.extra(ctx, recs)
    } else {
      val (recs, wall) = loop(None, "t", MinRounds)
      attempted ++= recs
      result("ops") = recs.map(opJson)
      result("wall_s") = wall
      result("extra") = wl.extra(ctx, recs)
    }
    wl.finish(ctx)
    result("cold_ms") = firstCall
    result("attempted") = attempted.size
    result("failed_ops") = attempted.filterNot(_.ok).map(_.id)
    result("checks") = wl.checks.toSeq
    result("rss_peak_mb") = rssPeakMb()
    Files.writeString(Paths.get(work, "result.json"), Json.render(result))
    spark.stop()
  }

  /** Runs one op. The wall time covers the op's body only; its
    * bookkeeping (`after`) runs once the clock has stopped.
    */
  def run(ctx: Ctx, wl: Workload, op: Op, id: String,
          tracer: Option[Tracer]): OpRec = {
    def body(): (Double, Double, Double) = op.body match {
      case Query(build, out) =>
        val t0 = System.nanoTime()
        val df = build()
        val t1 = System.nanoTime()
        if (tracer.isDefined) df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.write.mode("overwrite").parquet(out)
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
      case Action(f) =>
        val t0 = System.nanoTime()
        f()
        (0.0, 0.0, (System.nanoTime() - t0) / 1e6)
    }
    val t0 = System.nanoTime()
    val (phases, ok) =
      try {
        (tracer match {
          case Some(t) => t.within(id)(body())
          case None => body()
        }, true)
      } catch {
        case e: Throwable =>
          System.err.println(s"op $id (${op.kind}) failed: $e")
          e.printStackTrace()
          ((0.0, 0.0, 0.0), false)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (ok) {
      op.after()
      op.check.foreach(c => wl.checks += c ++ Map("op" -> id, "kind" -> op.kind))
    }
    OpRec(id, op.kind, ms, op.rows, op.commit, ok, phases._1, phases._2,
      phases._3, op.body.isInstanceOf[Query], op.tag)
  }

  private def opJson(r: OpRec): Map[String, Any] = Map(
    "id" -> r.id, "kind" -> r.kind, "ms" -> r.ms, "rows" -> r.rows,
    "commit" -> r.commit, "ok" -> r.ok, "query" -> r.query,
    "build_ms" -> r.buildMs, "plan_ms" -> r.planMs, "exec_ms" -> r.execMs)

  private def writeSpans(path: String, recs: Seq[OpRec], t: Tracer): Unit = {
    val lines = recs.map(r => Json.render(Map("type" -> "op", "op" -> r.id,
      "kind" -> r.kind, "dur_ms" -> r.ms, "children" -> Seq(
        Map("type" -> "build", "dur_ms" -> r.buildMs),
        Map("type" -> "plan", "dur_ms" -> r.planMs),
        Map("type" -> "exec", "dur_ms" -> r.execMs))))) ++
      t.spans.map(s => Json.render(s))
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
