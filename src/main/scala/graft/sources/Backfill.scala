package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Server-to-server backfill — the Spark-native `clone` (reference
  * doc/index.rst:385-400, src/Clone.cxx; `auto_clone`
  * doc/index.rst:54,63). pond's clone streams every record from a
  * peer server into the local database, resumable because each day's
  * per-site file is its own unit of transfer. The engine's mapping:
  * partition-aligned parquet→parquet copy where the DAY PARTITION is
  * the unit of work, driven by a manifest diff.
  *
  *  - [[sourceManifest]]: per-day integrity rows `(day, n_rows,
  *    sum_id)` — the count plus an order-independent id checksum (at
  *    100 TB the source side comes from footer/partition stats, same
  *    shape).
  *  - [[destManifest]]: the destination's PERSISTED manifest
  *    (`_graft_manifest/`, written by [[backfill]] at copy time),
  *    each day's entry trusted only while the day directory's
  *    file-count + byte-size signature still matches — a
  *    METADATA-ONLY listing check, so verifying a petabyte
  *    destination costs a directory listing, not a scan. Days whose
  *    signature mismatches (torn by a mid-copy kill on a non-atomic
  *    store, or foreign writes) are recomputed from just those
  *    directories; days with no manifest entry likewise.
  *  - [[diff]]: FULL OUTER join of the two manifests → days missing
  *    or mismatched in the destination AND days present only in the
  *    destination (orphaned/stale partitions). Empty diff = the
  *    clone is complete and verified in both directions.
  *  - [[backfill]]: repairs the diff in ONE distributed job — copies
  *    (up to `maxDays` of) the missing/mismatched days with dynamic
  *    partition overwrite, deletes orphan days, then persists the
  *    copied days' manifest entries (AFTER the data commit: a kill
  *    between the two leaves the day UNCLAIMED, never over-claimed.
  *    Its data already matches the source, so it does NOT re-enter
  *    the diff; the next [[destManifest]] recomputes it from its own
  *    files once and persists the entry — self-healing back onto the
  *    listing-only fast path). Interrupted mid-copy instead, the
  *    uncommitted day stays in the next diff; re-running resumes
  *    where the kill left off (tested in BackfillSpec, including a
  *    torn-partition repair).
  *
  * Scale: the copy shuffles once (repartition by day so each day
  * directory is written by the tasks owning that day), the manifest
  * scans are partial-aggregated counts on the SOURCE only, the
  * destination check is listing-sized, and the diff join is
  * days-sized (KB) — nothing grows faster than the partition count.
  */
object Backfill {

  /** Manifest subdirectory — `_`-prefixed, so data readers' hidden-
    * path filters never pick it up as a day partition.
    */
  private val ManifestDir = "_graft_manifest"

  /** events with its day partition key (UTC; `ts` is nanos — see
    * [[graft.GraftSession]] nanosAsLong).
    */
  private def withDay(df: DataFrame): DataFrame =
    df.withColumn("day",
      date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd"))

  def sourceManifest(spark: SparkSession, srcDir: String): DataFrame =
    withDay(Tables.events(spark, srcDir))
      .groupBy("day").agg(
        count(lit(1)).as("n_rows"),
        sum("event_id").as("sum_id"))

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The day directory's commit signature: (data file count, total
    * bytes) over non-hidden files — one listing call, no data read.
    */
  private def signature(fs: FileSystem, dayDir: Path): (Long, Long) = {
    if (!fs.exists(dayDir)) return (0L, 0L)
    val files = fs.listStatus(dayDir).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    (files.length.toLong, files.map(_.getLen).sum)
  }

  private def emptyManifest(spark: SparkSession): DataFrame =
    spark.range(0).select(
      col("id").cast("string").as("day"),
      col("id").as("n_rows"),
      col("id").as("sum_id"))

  /** Per-day manifest of the destination. Fresh target → zero-day
    * manifest. Otherwise each `day=` directory resolves through the
    * persisted manifest when its commit signature still matches, and
    * is recomputed from its own files when it doesn't (torn or
    * foreign partitions, or a day whose kill landed between data
    * commit and manifest write — the repair path, expected to be
    * rare). Recomputed non-empty days are persisted back (with the
    * signature taken BEFORE the scan, so concurrent writes can only
    * cause another recompute, never a stale claim): without this, a
    * day that matches the source but lost its manifest entry would
    * be rescanned on EVERY future call — the listing-only fast path
    * the manifest exists for would be permanently defeated for that
    * day. Materialized driver-side: the manifest is partition
    * metadata, days-sized, like any commit manifest.
    */
  def destManifest(spark: SparkSession, destDir: String): DataFrame = {
    val (fs, root) = fsOf(spark, destDir)
    if (!fs.exists(root)) return emptyManifest(spark)
    val dayDirs = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("day="))
      .map(_.getPath).sortBy(_.getName)
    if (dayDirs.isEmpty) return emptyManifest(spark)
    val mPath = new Path(root, ManifestDir)
    val persisted: Map[String, (Long, Long, Long, Long)] =
      if (!fs.exists(mPath)) Map.empty
      else spark.read.parquet(mPath.toString)
        // partition-value inference types `day=` as DATE; normalize
        // back to the manifest's string form
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .collect().map { r =>
        r.getAs[String]("day") ->
          ((r.getAs[Long]("n_rows"), r.getAs[Long]("sum_id"),
            r.getAs[Long]("n_files"), r.getAs[Long]("bytes")))
      }.toMap
    import spark.implicits._
    val rows = dayDirs.map { p =>
      val day = p.getName.stripPrefix("day=")
      val (nf, bytes) = signature(fs, p)
      persisted.get(day) match {
        case Some((n, s, mf, mb)) if mf == nf && mb == bytes => (day, n, s)
        case _ if nf == 0 => (day, 0L, 0L) // empty torn dir: never matches
        case _ =>
          val r = spark.read.parquet(p.toString)
            .agg(count(lit(1)), coalesce(sum("event_id"), lit(0L))).head()
          // self-heal: persist the recomputed entry (targeted per-day
          // partition write — no other day's entry is touched) so the
          // next call takes the listing-only fast path again
          Seq((r.getLong(0), r.getLong(1), nf, bytes))
            .toDF("n_rows", "sum_id", "n_files", "bytes")
            .coalesce(1).write.mode("overwrite")
            .parquet(new Path(mPath, s"day=$day").toString)
          (day, r.getLong(0), r.getLong(1))
      }
    }
    rows.toSeq.toDF("day", "n_rows", "sum_id")
  }

  /** Days out of sync in EITHER direction:
    * `(day, src_rows, dest_rows)` with `dest_rows` NULL for
    * missing-in-dest days and `src_rows` NULL for dest-only orphans.
    * Empty ⇒ backfill complete and content-verified.
    */
  def diff(spark: SparkSession, srcDir: String, destDir: String): DataFrame = {
    val src = sourceManifest(spark, srcDir)
      .select(col("day"), col("n_rows").as("src_rows"), col("sum_id").as("src_sum"))
    val dst = destManifest(spark, destDir)
      .select(col("day"), col("n_rows").as("dest_rows"), col("sum_id").as("dest_sum"))
    src.join(dst, Seq("day"), "full_outer")
      .filter(col("dest_rows").isNull || col("src_rows").isNull ||
        col("dest_rows") =!= col("src_rows") ||
        col("dest_sum") =!= col("src_sum"))
      .select("day", "src_rows", "dest_rows")
      .orderBy("day")
  }

  /** Repair the diff: copy up to `maxDays` missing/mismatched days
    * from the source (day-partitioned parquet, dynamic partition
    * overwrite), delete dest-only orphan days, then persist the
    * copied days' manifest entries. Returns the number of days
    * COPIED. Idempotent: a clean rerun is a no-op returning 0.
    * Both writes carry `partitionOverwriteMode` as a write option, so
    * the session's conf is never set and a concurrent query never
    * sees a dynamic-overwrite window.
    */
  def backfill(spark: SparkSession, srcDir: String, destDir: String,
               maxDays: Int = Int.MaxValue): Int = {
    // the pending-day list is partition metadata (≤ one row per day
    // partition) — driver-side by nature, like any commit manifest
    val d = diff(spark, srcDir, destDir).collect()
    val (fs, root) = fsOf(spark, destDir)
    // orphans first: dest-only days have nothing to copy — the repair
    // is deletion (data directory + manifest entry)
    d.filter(_.isNullAt(1)).map(_.getString(0)).foreach { day =>
      fs.delete(new Path(root, s"day=$day"), true)
      fs.delete(new Path(new Path(root, ManifestDir), s"day=$day"), true)
    }
    val pending = d.filter(!_.isNullAt(1)).map(_.getString(0)).sorted.take(maxDays)
    if (pending.isEmpty) return 0
    // dynamic overwrite (the write option Spark's
    // InsertIntoHadoopFsRelationCommand reads): each write replaces
    // only the day partitions it carries
    withDay(Tables.events(spark, srcDir))
      .filter(col("day").isin(pending.toIndexedSeq: _*))
      .repartition(col("day"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(destDir)
    // manifest entries AFTER the data commit (under-claim on a
    // kill, never over-claim), stamped with each day directory's
    // post-commit signature
    val src = sourceManifest(spark, srcDir)
      .filter(col("day").isin(pending.toIndexedSeq: _*)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    import spark.implicits._
    val entries = src.map { case (day, n, s) =>
      val (nf, bytes) = signature(fs, new Path(root, s"day=$day"))
      (day, n, s, nf, bytes)
    }.toSeq.toDF("day", "n_rows", "sum_id", "n_files", "bytes")
    entries.coalesce(1).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(new Path(root, ManifestDir).toString)
    pending.length
  }

  /** The gate query: clone the events table to a scratch target, then
    * require the manifest diff empty and return the DESTINATION's
    * manifest. The persisted manifest is additionally re-verified
    * against a full recount of the copied bytes — persisted ==
    * recomputed is part of the gate, so the fast path can never
    * silently drift from the data.
    */
  def cloneBackfill(spark: SparkSession, srcDir: String): DataFrame = {
    val dest = TmpDir.scoped("backfill",
      spark.sparkContext.applicationId, srcDir)
    var rounds = 0
    while (backfill(spark, srcDir, dest) > 0) {
      rounds += 1
      require(rounds <= 3, s"backfill did not converge after $rounds rounds")
    }
    require(diff(spark, srcDir, dest).isEmpty,
      "backfill complete but manifest diff non-empty")
    val persisted = destManifest(spark, dest)
      .select(col("day"),
        col("n_rows").cast("long").as("n_rows"),
        col("sum_id").cast("long").as("sum_id"))
      .orderBy("day")
    // gate: persisted manifest == full recount of the copied bytes
    val recomputed = spark.read.parquet(dest)
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .groupBy("day").agg(
        count(lit(1)).as("n_rows"),
        sum("event_id").as("sum_id"))
    require(persisted.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(persisted).isEmpty,
      "persisted manifest drifted from copied data")
    persisted
  }
}
