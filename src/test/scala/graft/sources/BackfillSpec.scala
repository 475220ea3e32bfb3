package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BackfillSpec extends SparkSpec {

  private def freshDest(): String = {
    val d = Files.createTempDirectory("graft_backfill_test").toFile
    d.delete() // backfill expects to create the target itself
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(d)
    }
    d.getAbsolutePath
  }

  test("fresh clone converges to an empty manifest diff; rerun is a no-op") {
    val dest = freshDest()
    val copied = Backfill.backfill(spark, sf, dest)
    assert(copied > 0)
    assert(Backfill.diff(spark, sf, dest).isEmpty)
    assert(Backfill.backfill(spark, sf, dest) == 0) // idempotent
    // destination manifest equals the source manifest exactly
    val src = Backfill.sourceManifest(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val dst = Backfill.destManifest(spark, dest).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(src == dst)
  }

  test("backfill sets dynamic overwrite per write, never in the session conf") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val dest = freshDest()
    // SQL executions carry the session's set conf in their jobs'
    // properties: a conf window during the writes would show here
    val props = jobPropertiesOf(Backfill.backfill(spark, sf, dest, maxDays = 3): Unit)
    assert(props.nonEmpty)
    assert(props.forall(_.getProperty(key) == null),
      s"session conf set during backfill: ${props.map(_.getProperty(key)).distinct}")
    assert(!spark.conf.getAll.contains(key))
    // the resumed copy still replaces only the days it carries
    Backfill.backfill(spark, sf, dest)
    assert(Backfill.diff(spark, sf, dest).isEmpty)
  }

  test("interrupted clone resumes: bounded run leaves a diff, rerun completes") {
    val dest = freshDest()
    val first = Backfill.backfill(spark, sf, dest, maxDays = 3)
    assert(first == 3)
    val remaining = Backfill.diff(spark, sf, dest).count()
    assert(remaining > 0, "bounded backfill must leave pending days")
    // the 3 copied days are NOT in the diff — completed work survives
    // the interruption and is never re-copied
    val total = Backfill.sourceManifest(spark, sf).count()
    assert(remaining == total - 3)
    Backfill.backfill(spark, sf, dest)
    assert(Backfill.diff(spark, sf, dest).isEmpty)
  }

  test("destManifest reads the persisted manifest, not the copied data") {
    val dest = freshDest()
    Backfill.backfill(spark, sf, dest)
    // the persisted manifest exists...
    val mDir = new java.io.File(dest, "_graft_manifest")
    assert(mDir.isDirectory, "backfill must persist its manifest")
    // ...and is what destManifest answers from: doctor one day's
    // entry (keeping the fs signature valid by editing values only)
    // and the doctored value must come back — proof the day was NOT
    // recounted from data
    val m = spark.read.parquet(mDir.toString)
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    val doctored = m.withColumn("n_rows",
      when(col("day") === m.orderBy("day").head().getAs[String]("day"), lit(424242L))
        .otherwise(col("n_rows")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_doctored").toString
    doctored.coalesce(1).write.mode("overwrite").partitionBy("day").parquet(tmp)
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    rmrf(mDir)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), mDir.toPath)
    val got = Backfill.destManifest(spark, dest).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.count(_ == 424242L) == 1,
      s"destManifest must answer from the persisted manifest: $got")
  }

  test("a day that lost its manifest entry self-heals back to the fast path") {
    val dest = freshDest()
    Backfill.backfill(spark, sf, dest)
    // simulate a kill between data commit and manifest write: the day
    // directory is complete but its manifest entry is gone
    val day = Backfill.sourceManifest(spark, sf)
      .orderBy("day").head().getString(0)
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    val entry = new java.io.File(dest, s"_graft_manifest/day=$day")
    assert(entry.isDirectory)
    rmrf(entry)
    // data matches the source, so the day never re-enters the diff —
    // destManifest must recompute it once and PERSIST the entry, or
    // every future call full-scans that day forever
    assert(Backfill.diff(spark, sf, dest).isEmpty)
    assert(entry.isDirectory, "recomputed day's manifest entry must be persisted")
    // and the persisted entry is answered from (doctor it, re-read)
    val expected = Backfill.destManifest(spark, dest).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(expected(day) > 0)
  }

  test("dest-only orphan days are flagged by the diff and removed") {
    val dest = freshDest()
    Backfill.backfill(spark, sf, dest)
    assert(Backfill.diff(spark, sf, dest).isEmpty)
    // plant an orphan day the source never had
    graft.Tables.events(spark, sf).limit(5)
      .write.mode("overwrite").parquet(s"$dest/day=1999-12-31")
    val d = Backfill.diff(spark, sf, dest).collect()
    assert(d.length == 1 && d.head.getString(0) == "1999-12-31" &&
      d.head.isNullAt(1), s"orphan must be flagged with NULL src: ${d.mkString(",")}")
    // repair removes it (no copy work → returns 0) and the diff closes
    assert(Backfill.backfill(spark, sf, dest) == 0)
    assert(Backfill.diff(spark, sf, dest).isEmpty)
    assert(!new java.io.File(dest, "day=1999-12-31").exists)
  }

  test("a torn day partition is detected by the diff and repaired") {
    val dest = freshDest()
    Backfill.backfill(spark, sf, dest)
    // tear one day: overwrite its directory with a 1-row subset, as a
    // kill mid-copy on a non-atomic store would leave it
    val day = Backfill.sourceManifest(spark, sf)
      .orderBy("day").head().getString(0)
    graft.Tables.events(spark, sf)
      .withColumn("day",
        date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd"))
      .filter(col("day") === day).drop("day").limit(1)
      .write.mode("overwrite").parquet(s"$dest/day=$day")
    val d = Backfill.diff(spark, sf, dest).collect()
    assert(d.length == 1 && d.head.getString(0) == day,
      s"diff must flag exactly the torn day: ${d.mkString(",")}")
    Backfill.backfill(spark, sf, dest)
    assert(Backfill.diff(spark, sf, dest).isEmpty)
  }
}
