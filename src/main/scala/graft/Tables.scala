package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned-parquet table roots (e.g.
  * `.../events/date=2024-01-01/` with part files below); reading a
  * directory keeps the same code path, so everything downstream is
  * written against a plain DataFrame.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fact-sized tables whose per-row compute deserves full parallelism
    * ([[spread]]). Everything else (including customer/orders, which
    * mostly play the broadcast-dim role here) stays un-spread —
    * repartitioning a table that is about to be broadcast just inserts
    * a wasted shuffle.
    *
    * `events` does not spread either. The spread's own map stage is a
    * single task (the one-file table cannot be split), so spreading
    * only parallelises the work between the scan and the next
    * exchange. For events that work is light (LogView's column
    * derivations, pond's filter, partial aggregates), and every log
    * verb exchanges right away, so the extra round-robin stage cost
    * more than it bought: dropping it took pond's verbs over 20k
    * events from 5.0 to 2.9 jobs, 2.4 to 1.3 exchanges and a median
    * 752 to 622 ms per query at 4 cores (perfbench `log_query`,
    * BASELINE.md). The trade turns with rows per split: at sf0.1
    * (100k rows) aggregating verbs still gain, but verbs that run
    * heavy per-row work or a filter in front of a global sort lose
    * (filter_*, geoip6; BASELINE.md). The corpus tables' tokenising
    * and hashing is heavy enough to keep the spread.
    */
  private val factTables: Set[String] =
    Set("lineitem", "documents", "embeddings")

  /** What a table's files say that every reference would otherwise
    * re-derive: the inferred schema (`spark.read.parquet` runs a
    * footer-reading job for it) and the [[spread]] decision (a full
    * physical-planning pass, `df.rdd`). Both only change when the
    * files or the core count do.
    */
  private final case class Layout(schema: StructType, spread: Boolean)

  /** One memo per (session, table path, modification time of the
    * path): a table rewritten in place — Spark's overwrite replaces
    * the directory — gets a fresh layout instead of a stale schema.
    */
  private val layouts =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long), Layout]

  private def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  private def status(spark: SparkSession, p: String): FileStatus = {
    val hp = new Path(p)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(hp)
  }

  private def layout(spark: SparkSession, p: String, st: FileStatus,
                     name: String): Layout =
    Memo.once(layouts,
      (spark.sparkContext.applicationId, p, st.getModificationTime), {
        val df = spark.read.parquet(p)
        Layout(df.schema, factTables(name) && underSplit(spark, df))
      })

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = path(sfDir, name)
    val l = layout(spark, p, status(spark, p), name)
    val df = normalize(spark.read.schema(l.schema).parquet(p))
    if (l.spread) df.repartition(spark.sparkContext.defaultParallelism) else df
  }

  /** Engine-internal column contract for `events.ts`: BIGINT
    * epoch-nanoseconds. The testdata has shipped it two ways —
    * TIMESTAMP(NANOS) (surfaced as BIGINT nanos via `nanosAsLong`,
    * see [[GraftSession]]) and TIMESTAMP(MICROS) (surfaced as
    * TIMESTAMP_NTZ). Normalise the latter here so every consumer
    * keeps the one representation; with the session timezone pinned
    * to UTC the NTZ→LTZ cast is value-preserving, so both layouts
    * yield identical nanos. (The DuckDB oracle side needs no shim:
    * `epoch_us(ts)` truncates TIMESTAMP_NS and reads TIMESTAMP_US
    * exactly, same values either way.)
    */
  private[graft] def normalize(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType != org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts").cast("timestamp")) * 1000L)
      case _ => df
    }

  /** The same table as a file-stream source (schema from the batch
    * loader — stream sources must never infer). Handles both testdata
    * layouts: a single FILE `<name>.parquet` (glob-filtered out of the
    * sf directory, so sibling tables don't leak into the stream) and a
    * DIRECTORY `<name>.parquet/part-*.parquet` (any real table; the
    * path itself is the source root).
    */
  def stream(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // schema must be the RAW file schema (the ts shim is a projection,
    // not a storage layout) — normalize() is applied to the stream
    // DataFrame afterwards, same as the batch path.
    val p = path(sfDir, name)
    val st = status(spark, p)
    val reader = spark.readStream.schema(layout(spark, p, st, name).schema)
    normalize(
      if (st.isDirectory)
        reader.parquet(p)
      else
        reader.option("pathGlobFilter", s"$name.parquet").parquet(sfDir))
  }

  /** The testdata ships one single-row-group file per table, which
    * Spark cannot split — every downstream operator would run on ONE
    * partition. Repartition up to the core count when (and only when)
    * the scan yields fewer splits than cores. On a real deployment the
    * table is thousands of files, the guard is false, and this is a
    * no-op — no extra shuffle at scale. (`repartition(n)` with an
    * explicit count is exempt from AQE coalescing, so the parallelism
    * actually sticks.) [[load]] applies it to [[factTables]] only.
    */
  def spread(spark: SparkSession, df: DataFrame): DataFrame =
    if (underSplit(spark, df)) df.repartition(spark.sparkContext.defaultParallelism)
    else df

  private def underSplit(spark: SparkSession, df: DataFrame): Boolean =
    df.rdd.getNumPartitions < spark.sparkContext.defaultParallelism

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
