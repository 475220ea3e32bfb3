package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession configuration for the engine.
  *
  * Centralised so Verify, Bench and every test build identical
  * sessions. Settings that matter:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the `events` testdata
  *    stores `ts` as parquet TIMESTAMP(NANOS), which Spark 4.x refuses
  *    to read by default. With this flag the column surfaces as BIGINT
  *    nanoseconds and [[graft.logs.LogView]] normalises it to
  *    epoch-microseconds (pond's native resolution, see reference
  *    src/net — `Net::Log::TimePoint` is a µs time_point).
  *  - shuffle partitions sized to the local core count (32 in CI);
  *    on a real cluster this would be a multiple of executor cores.
  *  - AQE on: runtime coalescing + skew-join handling is part of the
  *    100 TB story and costs nothing locally.
  */
object GraftSession {

  def builder(master: String, cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Pinned (not just the Spark 4 default): the micro-unit long
      // sums in graft.analytics rely on ANSI overflow semantics —
      // an int64 sum past ±9.2e18 must RAISE, not wrap silently.
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // v2 commit: files move to their final location at TASK commit
      // (parallel, executor-side) instead of one serial driver-side
      // rename pass at job commit — the standard setting for rename-
      // atomic filesystems; the engine's own staging protocols
      // (the IVF rebuild's _SUCCESS swap, snapshot staged dirs) never
      // rely on job-commit atomicity. Cuts the many-small-file commit
      // tail of every fixture/mutation write.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // gzip text sinks (--raw/--gzip dumps) run DEFLATE at BEST_SPEED:
      // the dump's contract is the framing (one gzip member per file,
      // byte-exact round-trip), not the ratio; level 1 is the standard
      // bulk-export choice (2-4x the compression throughput for ~10-15%
      // size on log text). Scale-parameterised: any deployment can
      // override the session conf.
      .config("spark.hadoop.zlib.compress.level", "BEST_SPEED")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")

  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cpus]", cpus).getOrCreate()
}
