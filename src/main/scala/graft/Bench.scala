package graft

/** Benchmark main: runs every registered query on
  * `SPARK_GRAFT_SF_DIR`, materialising results through the noop sink
  * (full execution, no driver collect, no count()-style column
  * pruning).
  *
  * Output protocol (all lines are self-contained JSON):
  *  - one `{"metric":"query_time",...}` line per query per pass, AS IT
  *    COMPLETES — a killed or timed-out run still leaves per-query
  *    data in whatever tail survives;
  *  - a `{"metric":"progress",...}` rolling-aggregate line every 10
  *    queries, so even a 2000-char tail of a truncated run carries
  *    aggregate state (sum so far, elapsed, budget);
  *  - one `{"metric":"baseline_ratio",...}` line comparing min-of-
  *    passes per query against BASELINE.md's standing numbers (when
  *    the file is readable), with the >2× regression list;
  *  - the aggregate `{"metric":"total",...}` line (per-query min
  *    seconds, errors, env) — wide (~5 KB at 121 queries);
  *  - LAST, a compact `{"metric":"summary",...}` line (<400 chars)
  *    duplicating the aggregate numbers, so the harness tail — which
  *    keeps only the final ~2000 chars — always ends with parseable
  *    aggregate state instead of the middle of the wide line.
  *
  * Budget protocol: the driver's bench invocation has a hard timeout
  * (~600 s observed: r5 finished at 582 s, r6/r7 were killed at
  * rc=124). A killed run loses everything after the kill and floods
  * the tail with executor-teardown stack traces, so Bench now keeps
  * its OWN clock from main() entry and adapts:
  *  - `SPARK_GRAFT_TIME_BUDGET` (seconds, default 450 — leaves ~150 s
  *    of the driver window for sbt boot/compile) bounds the whole run;
  *  - the warmup pass runs from a small thread pool (fixture builds
  *    overlap — see warmupPool) and is capped; both timed passes are
  *    then ATTEMPTED serially (per-query deadline aborts protect the
  *    window; `SPARK_GRAFT_PASSES` overrides); timed passes run
  *    slowest-first so a truncated pass keeps warm samples on the
  *    dominant queries;
  *  - inside a timed pass, each query checks the clock first and the
  *    pass aborts (emitting an `aborted` line) rather than blow the
  *    window — queries without a timed sample fall back to their
  *    warmup timing, and `env.timed_coverage` reports how many
  *    queries got a real timed sample so a degraded run can never
  *    masquerade as the full protocol.
  *
  * Failed queries get `-1` timing plus an entry in `"errors"` — a
  * broken query must never masquerade as a fast one.
  */
object Bench {

  /** Timed passes over the full set when the budget allows (min per
    * query). The env block reports the count actually run — a
    * filtered, re-configured or budget-degraded run must never be
    * indistinguishable from the standard protocol.
    */
  val MaxTimedPasses = 2
  val WarmupPasses = 1

  /** Warmup may consume at most this fraction of the budget — the
    * rest is reserved for timed passes (see the cap note at the
    * warmup call site). Measured r11 at load 7.5–9.3: 0.55 left the
    * timed pass ~35 s short of full coverage, 0.42 still ~5 s short
    * (6 cheap tail queries cut); 0.38 reserves 279 s of timed budget
    * against a measured 244 s full pass at 183 queries. With
    * fixture-backed queries warmed first, the cheap unwarmed tail
    * costs little extra in pass 1, and a complete timed pass
    * (timed_coverage == queries_run) is worth more than tail-warming.
    */
  val WarmupBudgetFrac = 0.38

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    // 450: the driver window is ~600 s (r5's full run completed at
    // 582 s wall including sbt boot; boot on a pre-compiled tree is
    // ~35 s), so 450 + boot + teardown leaves ~100 s of slack while
    // buying a much larger slice of one timed pass than 400 did.
    val budget = sys.env.get("SPARK_GRAFT_TIME_BUDGET").map(_.toDouble).getOrElse(450.0)
    // reserve for baseline parse + total/summary emit + spark.stop()
    val teardownMargin = 15.0

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to the full local[32] the harness provides (BASELINE.md
    // numbers are recorded at 32): the driver invokes Bench with a bare
    // env, and a lower default silently ran the whole suite on a
    // fraction of the machine (the r6/r7 rc=124 timeouts were this).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    // ERROR, not WARN: a timed-out run's tail must hold query_time
    // lines, not scheduler warnings
    spark.sparkContext.setLogLevel("ERROR")

    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      }
    // locale-pinned 2-decimal format: the f-interpolator uses the JVM
    // default locale and emits decimal COMMAS on e.g. de_DE, which is
    // invalid JSON (everything else here rides Double.toString, which
    // is locale-independent)
    def f2(d: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

    // warm up: file listing + footer reads + codegen/JIT paths, so the
    // alphabetically-first query doesn't absorb session startup cost
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    var errors = List.empty[(String, String)]
    val errLock = new Object
    def recordError(name: String, e: Throwable): Unit = errLock.synchronized {
      if (!errors.exists(_._1 == name))
        errors ::= name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
    }
    // optional name filter for targeted perf iteration (unset = full
    // set, which is what the driver runs)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // one pass over the set, emitting a progress line per query; pass
    // 0 is the JIT/codegen warmup (its timings are aggregated only as
    // the fallback for queries whose timed pass was budget-aborted).
    // Returns None for queries not reached before the deadline.
    // `ordered` overrides the iteration order: timed passes run
    // slowest-warmup-first, so when the budget truncates a pass the
    // queries that dominate the total (and the baseline ratios) are
    // the ones holding warm samples — a budget-aborted tail of
    // sub-second queries loses almost nothing.
    def pass(p: Int, skip: Set[String], deadline: Double,
             ordered: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = queries): Map[String, Option[Double]] = {
      var aborted = false
      var sumOk = 0.0
      var done = 0
      val out = ordered.map { case (name, fn) =>
        if (!aborted && elapsed > deadline) {
          aborted = true
          println(s"""{"metric":"aborted","pass":$p,"after":$done,"of":${queries.length},"elapsed":${f2(elapsed)}}""")
        }
        val sec: Option[Double] =
          if (aborted) None
          else if (skip(name)) Some(-1.0)
          else {
            val v = try {
              val s0 = System.nanoTime()
              run(fn)
              (System.nanoTime() - s0) / 1e9
            } catch {
              case e: Throwable => recordError(name, e); -1.0
            }
            println(s"""{"metric":"query_time","query":"$name","pass":$p,"sec":$v}""")
            done += 1
            if (v >= 0) sumOk += v
            if (done % 10 == 0)
              println(s"""{"metric":"progress","pass":$p,"done":$done,"of":${queries.length},"sum_sec":${f2(sumOk)},"elapsed":${f2(elapsed)},"budget":${f2(budget)}}""")
            Some(v)
          }
        name -> sec
      }.toMap
      out
    }

    /** The warmup pass, from a small THREAD POOL (guide §2.6 —
      * independent jobs overlap, the scheduler back-fills the tail).
      * The cold pass is dominated by one-time fixture/gate-artifact
      * builds (measured r13 at idle: the 23 fixture-backed head alone
      * is 157 s serial — past the warmup cap before one non-fixture
      * query warms, and 111 queries never got a timed sample at the
      * loaded driver seat); the builds are independent per query and
      * disk/shuffle-bound, so overlapping them compresses the cold
      * wall ~4× without touching the TIMED passes, which stay
      * strictly serial with the same min-of-passes methodology.
      * Cross-query fixture sharing is safe under concurrency via
      * graft.Memo (block-until-built memoization), and no query
      * mutates the session's conf (streaming drains size their state
      * in a child session, the backfill sets its overwrite mode per
      * write).
      * Per-query warmup timings are still recorded — they order the
      * timed passes and remain the honest (cold-labeled) fallback for
      * budget-aborted queries; pool contention can inflate them, but
      * they were never regression-eligible (trulyWarm gates on timed
      * samples).
      */
    def warmupPool(deadline: Double,
                   ordered: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)],
                   threads: Int): Map[String, Option[Double]] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val sumOk = new java.util.concurrent.atomic.DoubleAdder()
      val futures = ordered.map { case (name, fn) =>
        name -> pool.submit(new java.util.concurrent.Callable[Option[Double]] {
          override def call(): Option[Double] =
            if (elapsed > deadline) {
              if (aborted.compareAndSet(false, true))
                println(s"""{"metric":"aborted","pass":0,"after":${done.get()},"of":${queries.length},"elapsed":${f2(elapsed)}}""")
              None
            } else {
              val v = try {
                val s0 = System.nanoTime()
                run(fn)
                (System.nanoTime() - s0) / 1e9
              } catch { case e: Throwable => recordError(name, e); -1.0 }
              println(s"""{"metric":"query_time","query":"$name","pass":0,"sec":$v}""")
              if (v >= 0) sumOk.add(v)
              val d = done.incrementAndGet()
              if (d % 10 == 0)
                println(s"""{"metric":"progress","pass":0,"done":$d,"of":${queries.length},"sum_sec":${f2(sumOk.sum)},"elapsed":${f2(elapsed)},"budget":${f2(budget)}}""")
              Some(v)
            }
        })
      }
      val out = futures.map { case (n, f) => n -> f.get() }.toMap
      pool.shutdown()
      out
    }

    val warmDeadline = budget - teardownMargin
    // baseline rows parsed up front: they order the warmup pass and
    // later anchor the regression flags
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE.md")
    val baseline: Map[String, Double] =
      try {
        val row = """\|\s*`([a-z0-9_]+)`\s*\|\s*([0-9.]+)\s*""".r
        // ISO-8859-1: decodes any byte sequence (the table rows we
        // parse are ASCII; prose around them may not be)
        scala.io.Source.fromFile(baselinePath, "ISO-8859-1").getLines()
          .flatMap(l => row.findAllMatchIn(l).map(m => m.group(1) -> m.group(2).toDouble))
          .toMap
      } catch { case _: Throwable => Map.empty }
    // The warmup pass is CAPPED at WarmupBudgetFrac of the budget and
    // ordered FIXTURE-BACKED queries first (their one-time session
    // artifact builds must land in the warmup — their warm marginal
    // cost is what the baseline stamps, so baseline ordering would
    // push the expensive first build into a timed pass), then
    // slowest-baseline-first (unknown/new queries ahead — no standing
    // row): when the suite's cold pass would otherwise eat the whole
    // window (the full set's cold wall grew past the driver budget's
    // headroom), the cap cuts warming on the CHEAP tail — whose
    // cold≈warm within the flag rule's 1 s absolute floor — and
    // guarantees a timed window. A warmup that consumes the budget
    // leaves value = cold-total for every query, the one outcome
    // strictly worse than a partially cold pass. Unwarmed queries sort
    // first in the timed passes (their pass-1 sample doubles as their
    // warmup) and are flag-eligible only once genuinely warm (see
    // trulyWarm below); a single-sample cold timing lands in
    // cold_flagged + the carryover queue instead.
    val warmCapDeadline = math.min(warmDeadline, budget * WarmupBudgetFrac)
    val warmupOrder = queries.sortBy { case (n, _) =>
      (if (SparkEntry.fixtureBacked(n)) 0 else 1,
        -baseline.getOrElse(n, Double.MaxValue))
    }
    // pool width: enough to overlap the fixture builds' I/O stalls,
    // small enough that each query still gets most of the machine
    // (the builds are multi-task Spark jobs themselves). 32 cpus → 6,
    // 8 cpus → 2, 4 cpus → 1 (serial, the pre-r13 behaviour).
    // Overridable for diagnosis.
    val warmThreads = sys.env.get("SPARK_GRAFT_WARM_THREADS").map(_.toInt)
      .getOrElse(math.max(1, math.min(6, cpus / 4)))
    val warmStart = elapsed
    val warm =
      if (warmThreads <= 1) pass(0, Set.empty, warmCapDeadline, warmupOrder)
      else warmupPool(warmCapDeadline, warmupOrder, warmThreads)
    val warmWall = elapsed - warmStart
    val failedWarm = queries.collect { case (n, _) if warm(n).exists(_ < 0) => n }.toSet

    // ATTEMPT the full MaxTimedPasses whenever any budget remains: the
    // per-query deadline abort already guarantees the window, a
    // truncated later pass still lands its extra samples on the
    // slowest-first head (exactly where min-of-passes matters), and a
    // pass that never starts can't. The previous warmWall-based
    // estimate existed to avoid STARTING a pass that couldn't finish —
    // pointless caution once aborts are per-query — and with the
    // pooled warmup its wall no longer predicts a serial pass anyway.
    // SPARK_GRAFT_PASSES pins the count explicitly; timed_coverage and
    // per-pass aborted lines keep a truncated run distinguishable.
    val timedPasses: Int = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse {
      val remaining = budget - teardownMargin - elapsed
      if (remaining >= 30.0) MaxTimedPasses else 0
    }
    val warmedCount = queries.count { case (n, _) => warm(n).exists(_ >= 0) }
    println(s"""{"metric":"plan","warmup_wall":${f2(warmWall)},"warmed":$warmedCount,"elapsed":${f2(elapsed)},"budget":${f2(budget)},"timed_passes":$timedPasses}""")

    // Interleaved whole-set passes beat back-to-back min-of-two: a
    // transient host-load spike inflates one pass, not both timings of
    // whichever query it lands on. A per-query transient failure costs
    // that query its timing, never the whole bench.
    //
    // Cold-carryover: queries the PREVIOUS run flagged over-2× on a
    // cold (warmup-only) sample jump the queue — they are guaranteed a
    // warm sample this run, so a real regression trips the enforced
    // over_2x gate within one round instead of hiding in cold_flagged
    // forever (a budget-truncated run could otherwise never warm-
    // sample a regressed mid-pack query).
    val carryoverPath = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_STATE_DIR", "."), ".bench_cold_carryover")
    // intersect with THIS run's query set: a renamed/removed query
    // left in the file by an old run must not pin a stale name to the
    // head of the queue forever
    val currentNames = queries.map(_._1).toSet
    val carryover: Set[String] =
      try {
        if (carryoverPath.isFile)
          scala.io.Source.fromFile(carryoverPath, "UTF-8").getLines()
            .map(_.trim).filter(_.nonEmpty).toSet.intersect(currentNames)
        else Set.empty
      } catch { case _: Throwable => Set.empty }
    if (carryover.nonEmpty)
      println(s"""{"metric":"cold_carryover","queries":[${carryover.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]}""")
    val slowestFirst = queries.sortBy { case (n, _) =>
      (if (carryover(n)) 0 else 1,
        -warm(n).filter(_ >= 0).getOrElse(Double.MaxValue))
    }
    val timed = (1 to timedPasses).map(p =>
      pass(p, failedWarm, warmDeadline, slowestFirst))
    val results = queries.map { case (name, _) =>
      val timedOk = timed.flatMap(_(name)).filter(_ >= 0)
      val v =
        if (timedOk.nonEmpty) timedOk.min
        else if (timed.exists(_(name).exists(_ < 0))) -1.0
        // budget-aborted before any timed sample: warmup timing is the
        // honest fallback (flagged via env.timed_coverage below)
        else warm(name).getOrElse(-1.0)
      name -> v
    }
    val timedCoverage = queries.count { case (n, _) => timed.exists(_(n).exists(_ >= 0)) }
    // contract: errors lists exactly the queries with -1 timing — a
    // query that recovered in another pass reports its timing and is
    // NOT an error
    val failed = results.collect { case (n, v) if v < 0 => n }.toSet
    errors = errors.filter { case (n, _) => failed(n) }

    // standing regression criterion (BASELINE.md): each query within
    // 2× of its baseline under comparable load. Emitted as its own
    // line so a round's verdict can name regressions mechanically;
    // sub-second queries are job-overhead-dominated and excluded from
    // the flag list (the criterion weights absolute deltas there).
    var over2x = -1
    var carryNext: Seq[String] = Nil
    if (baseline.nonEmpty) {
      // only queries holding a WARM (timed-pass) sample are eligible
      // for the regression flag: a budget-aborted query's fallback is
      // its cold warmup time (JIT + codegen + first-touch I/O), and
      // comparing that against a warm baseline row manufactures 2-4×
      // "regressions" that vanish on any full run. Cold ratios are
      // still reported (cold_flagged) so no information is dropped —
      // they're just labeled as the unlike-for-like comparison they are.
      // "truly warm" = the sample followed at least one prior
      // execution in THIS JVM (a completed warmup run, or an earlier
      // timed pass): with the capped warmup, an unwarmed query's
      // pass-1 sample is cold — eligible for cold_flagged and the
      // carryover queue, never for the enforced over_2x flag
      val warmSampled = queries.collect {
        case (n, _) if timed.exists(_(n).exists(_ >= 0)) &&
          (warm(n).exists(_ >= 0) ||
            timed.count(_(n).exists(_ >= 0)) >= 2) => n
      }.toSet
      val ratios = results.collect {
        case (n, v) if v >= 0 && baseline.contains(n) =>
          (n, v, baseline(n), v / baseline(n))
      }
      val (warmR, coldR) = ratios.partition { case (n, _, _, _) => warmSampled(n) }
      val flagged = warmR.filter { case (_, v, b, r) => r > 2.0 && (v max b) >= 1.0 }
      val coldFlagged = coldR.filter { case (_, v, b, r) => r > 2.0 && (v max b) >= 1.0 }
      over2x = flagged.length
      val rj = ratios.map { case (n, _, _, r) => "\"" + n + "\":" + f2(r) }
        .mkString("{", ",", "}")
      val fj = flagged.map { case (n, v, b, _) => "\"" + n + "\":\"" + f2(v) + " vs " + f2(b) + "\"" }
        .mkString("{", ",", "}")
      val cj = coldFlagged.map { case (n, v, b, _) => "\"" + n + "\":\"" + f2(v) + " vs " + f2(b) + "\"" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"baseline_ratio","baseline":"${esc(baselinePath)}","compared":${ratios.length},"over_2x":${flagged.length},"flagged":$fj,"cold_compared":${coldR.length},"cold_flagged":$cj,"ratios":$rj}""")
      carryNext = coldFlagged.map { case (n, _, _, _) => n }
    }
    // persist THIS run's cold-flagged set for the next run's
    // head-of-queue treatment — rewritten EVERY run (empty file =
    // nothing carried), so a run without a baseline clears stale
    // names instead of letting them jump the queue indefinitely
    try {
      val w = new java.io.PrintWriter(carryoverPath, "UTF-8")
      try carryNext.foreach(w.println)
      finally w.close()
    } catch { case _: Throwable => () }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.reverse
      .map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // run conditions, so cross-round drift is attributable: an 18%
    // uniform shift with equal load/cpus is code, with higher load is
    // environment. queries_run + filtered make a SPARK_GRAFT_QUERIES
    // run distinguishable from the full protocol; timed_passes +
    // timed_coverage make a budget-degraded run distinguishable too.
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val env = s""""env":{"load_avg":${os.getSystemLoadAverage},""" +
      s""""cpus_avail":${os.getAvailableProcessors},""" +
      s""""spark_cpus":$cpus,"passes":$timedPasses,"warmup_passes":$WarmupPasses,""" +
      s""""timed_coverage":$timedCoverage,"budget_sec":${f2(budget)},""" +
      s""""queries_run":${queries.length},"filtered":${only.nonEmpty},""" +
      s""""jvm":"${esc(System.getProperty("java.version"))}"}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir",$env}""")
    // teardown must not bury the JSON: executor shutdown logs ERROR-
    // level stack traces when jobs raced the stop — mute everything
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // compact trailer AFTER stop, so it is the process's last stdout
    // line and survives any tail truncation intact
    println(s"""{"metric":"summary","value":${f2(total)},"unit":"sec","queries_run":${queries.length},"errors":${errors.length},"failed":${failed.size},"over_2x":$over2x,"timed_passes":$timedPasses,"timed_coverage":$timedCoverage,"elapsed":${f2(elapsed)},"load_avg":${os.getSystemLoadAverage},"sf":"${esc(sfDir)}"}""")
    System.out.flush()
  }
}
