package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The CDC FOLLOW loop over [[Snapshot]] tables — pond's `--follow`
  * discipline (drain what's new, remember the position, resume with
  * no duplicates and no gaps) applied to table VERSIONS instead of
  * log records: a consumer polls the manifest dir, emits the
  * [[SnapshotOps.changesBetween]] delta of every committed version
  * past its persisted cursor, and advances the cursor only after the
  * delta landed.
  *
  * Exactly-once without a transaction log: each version's delta
  * writes to its own `version=<v>` output dir in overwrite mode, so
  * a crash between delta write and cursor advance re-emits the SAME
  * delta into the SAME dir on retry — idempotent, never duplicated,
  * never gapped (the cursor only moves forward over versions whose
  * dirs are complete). This is the consumer half of the table-format
  * contract: the producer's commits are atomic manifest renames, the
  * consumer's progress is one cursor file.
  *
  * Retention interaction, stated honestly: a follower that falls
  * more than [[Snapshot.KeepVersions]]-1 versions behind can no
  * longer diff from its cursor (the old manifest was vacuumed) and
  * must re-bootstrap from a full read — [[followChanges]] fails
  * loudly in that case rather than silently skipping versions,
  * exactly the change-data-feed retention semantics every table
  * format documents.
  */
object SnapshotFollow {

  /** Consume every committed version newer than the cursor: write
    * each consecutive delta to `outDir/version=<v>/` (overwrite —
    * idempotent on retry), then persist the new cursor. Returns the
    * number of versions consumed. A fresh cursor (no file) starts at
    * the OLDEST live version — the bootstrap snapshot is the caller's
    * to read; follow streams mutations, not history it cannot see.
    */
  def followChanges(spark: SparkSession, tableDir: String,
                    cursorPath: String, outDir: String): Int = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val live = Snapshot.versions(fs, root)
    require(live.nonEmpty, s"$tableDir has no committed versions")
    val persisted = readCursor(fs, cursorPath)
    val cursor = persisted.getOrElse(live.min)
    require(live.contains(cursor),
      s"follower cursor v$cursor fell behind retention " +
        s"(live: ${live.mkString(", ")}); re-bootstrap from a full read")
    // persist the resolved cursor even when nothing is pending — a
    // fresh follower that bootstraps at live.min and only polls again
    // after >= KeepVersions further commits would otherwise re-resolve
    // cursor = the NEW live.min and silently skip the oldest delta;
    // with the cursor written, that poll trips the loud fell-behind
    // require above instead of gapping
    val cursorFile = new Path(cursorPath)
    if (persisted.isEmpty) Snapshot.replaceText(fs, cursorFile, s"$cursor\n")
    val pending = live.filter(_ > cursor)
    pending.foldLeft(cursor) { (from, to) =>
      SnapshotOps.changesBetween(spark, tableDir, from, to)
        .write.mode("overwrite").parquet(s"$outDir/version=$to")
      Snapshot.replaceText(fs, cursorFile, s"$to\n")
      to
    }
    pending.size
  }

  /** The accumulated change log a follower has emitted so far —
    * `version` recovered from the partition dirs.
    */
  def changeLog(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)

  /** An empty or unparseable cursor file (a legacy writer that died
    * between create-truncate and write) reads as ABSENT — the follower
    * re-bootstraps instead of crashing unrecoverably on every poll.
    * Cursor writes go through [[Snapshot.replaceText]]'s tmp+rename,
    * which makes that window impossible for cursors written by this
    * code.
    */
  private def readCursor(fs: org.apache.hadoop.fs.FileSystem,
                         path: String): Option[Long] = {
    val p = new Path(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val first =
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().nextOption()
        finally in.close()
      first.map(_.trim).filter(_.nonEmpty)
        .flatMap(s => scala.util.Try(s.toLong).toOption)
    }
  }

  /** Gate fixture + query: the two-mutation lifecycle consumed
    * INCREMENTALLY — build (v1), follow (nothing pending), land the
    * correction-feed upsert (v2), follow (emits 1→2), land the
    * compliance-delete feed (v3, keys = base events of
    * `user_id % 97 = 3`), follow (emits 2→3) — then roll the
    * accumulated log up by version × op × date. The cursor resume
    * (no duplicates, no gaps across three follow calls) is exercised
    * BY the gate; the oracle derives both deltas relationally.
    * Memoized per (session, input dir) like the other versioned
    * fixtures.
    */
  def snapshotChangesFollow(spark: SparkSession, dir: String): DataFrame = {
    val out = followFixture(spark, dir)
    changeLog(spark, out)
      .groupBy(col("version"), col("op"), col("date"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
      .orderBy("version", "op", "date")
  }

  private[graft] def followFixture(spark: SparkSession, dir: String): String =
    graft.Memo.dir(spark, "snapfollowout", dir) { out =>
      val tmp = TmpDir.scoped("snapfollow", spark.sparkContext.applicationId, dir)
      val cursor = s"$out/_cursor"
      // month-partitioned: the follow loop reads manifest diffs,
      // which are orthogonal to partition count — the 30-dir day
      // layout only multiplied staging/stats tasks (date stays a
      // content column; the gate rollup uses it unchanged)
      val events = Tables.events(spark, dir)
        .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
        .withColumn("ym", date_format(col("date"), "yyyy-MM"))
      events.repartition(col("ym"))
        .write.mode("overwrite").partitionBy("ym").parquet(tmp)
      Snapshot.convert(spark, tmp, "ym")
      followChanges(spark, tmp, cursor, out) // bootstrap: 0 pending

      val inWindow = dayofmonth(col("date")) <= 7
      val updates = events
        .filter(pmod(col("user_id"), lit(89)) === 5 && inWindow)
        .withColumn("event_type", lit("corrected"))
      val inserts = events
        .filter(pmod(col("user_id"), lit(89)) === 7 && inWindow)
        .withColumn("event_id", col("event_id") + lit(1000000000L))
        .withColumn("event_type", lit("inserted"))
      SnapshotOps.upsert(spark, tmp,
        updates.unionByName(inserts), "event_id", "ym")
      followChanges(spark, tmp, cursor, out) // emits 1→2

      val doomed = events
        .filter(pmod(col("user_id"), lit(97)) === 3)
        .select("event_id")
      SnapshotOps.delete(spark, tmp, doomed, "event_id")
      followChanges(spark, tmp, cursor, out) // emits 2→3
    }
}
