package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import graft.SparkSpec

/** Schema evolution on the snapshot layer, where the merged schema is
  * MANIFEST metadata instead of footer IO: NULL-fill, pushdown and
  * add-only evolution.
  */
class SnapshotSchemaSpec extends SparkSpec {

  private def freshTable(): (String, org.apache.hadoop.fs.FileSystem, Path) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapschema")
      .toString
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val events = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
      .select("event_id", "user_id", "event_type", "date")
      .withColumn("ym", date_format(col("date"), "yyyy-MM"))
    SnapshotOps.append(spark, dir, events, "ym", Some("schema-spec-base"))
    (dir, fs, root)
  }

  test("evolve is metadata-only: same file set, no data file touched, " +
       "one new root, every shard pointer reused") {
    val (dir, fs, root) = freshTable()
    val v1 = Snapshot.currentVersion(fs, root).get
    val before = Snapshot.filesOf(fs, root, v1)
    val mtimes = before.map(f =>
      f -> fs.getFileStatus(new Path(root, f)).getModificationTime).toMap
    val refs1 = Snapshot.shardRefsOf(fs, root, v1).toMap
    val v2 = SnapshotSchema.evolve(spark, dir,
      Seq(StructField("quality_bp", LongType)))
    assert(v2 == v1 + 1)
    assert(Snapshot.filesOf(fs, root, v2) == before)
    before.foreach { f =>
      assert(fs.getFileStatus(new Path(root, f)).getModificationTime ==
        mtimes(f), s"evolve touched data file $f")
    }
    // metadata-only also at the manifest level: every partition's
    // shard pointer is the base version's, byte-identical
    assert(Snapshot.shardRefsOf(fs, root, v2).toMap == refs1)
    assert(SnapshotSchema.tableSchema(spark, dir).fieldNames
      .contains("quality_bp"))
  }

  test("merged read NULL-fills from the declared schema, keeps " +
       "common-column pushdown, and new-column predicates skip old rows") {
    val (dir, _, _) = freshTable()
    SnapshotSchema.evolve(spark, dir, Seq(StructField("quality_bp", LongType)))
    val wave = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
      .select("event_id", "user_id", "event_type", "date")
      .withColumn("ym", date_format(col("date"), "yyyy-MM"))
      .filter(col("event_id") < 40)
      .withColumn("event_id", col("event_id") + lit(9000000L))
      .withColumn("quality_bp", lit(777L))
    SnapshotOps.append(spark, dir, wave, "ym", Some("schema-spec-wave"))
    val df = SnapshotSchema.readMerged(spark, dir)
    // NULL-fill: every base row NULL, every wave row served
    assert(df.filter(col("event_id") < 9000000L &&
      col("quality_bp").isNotNull).count() == 0)
    assert(df.filter(col("event_id") >= 9000000L &&
      (col("quality_bp").isNull || col("quality_bp") =!= 777L)).count() == 0)
    // a predicate on a COMMON column still reaches the parquet scan
    val plan = df.filter(col("user_id") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("user_id"),
      plan.take(2000))
    // new-column predicates never match pre-column rows
    assert(df.filter(col("quality_bp") >= 0 &&
      col("event_id") < 9000000L).count() == 0)
  }

  test("the schema tag survives evolution-unaware mutations, retypes " +
       "are refused, and undeclared tables fall back to the footer") {
    val (dir, fs, root) = freshTable()
    // undeclared: schema derives from a footer
    assert(SnapshotSchema.tableSchema(spark, dir).fieldNames
      .contains("event_id"))
    SnapshotSchema.evolve(spark, dir, Seq(StructField("quality_bp", LongType)))
    // an append that knows nothing about the evolution
    val plain = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
      .select("event_id", "user_id", "event_type", "date")
      .withColumn("ym", date_format(col("date"), "yyyy-MM"))
      .filter(col("event_id") < 20)
      .withColumn("event_id", col("event_id") + lit(9500000L))
    SnapshotOps.append(spark, dir, plain, "ym", Some("schema-spec-plain"))
    val v = Snapshot.currentVersion(fs, root).get
    assert(SnapshotSchema.schemaOf(fs, root, v).exists(
      _.fieldNames.contains("quality_bp")),
      "schema tag lost through an evolution-unaware append")
    // retype refused loudly; identical re-declare is a no-op
    intercept[IllegalArgumentException] {
      SnapshotSchema.evolve(spark, dir,
        Seq(StructField("quality_bp", StringType)))
    }
    val before = Snapshot.currentVersion(fs, root).get
    SnapshotSchema.evolve(spark, dir, Seq(StructField("quality_bp", LongType)))
    assert(SnapshotSchema.tableSchema(spark, dir)
      .fields.count(_.name == "quality_bp") == 1)
    assert(Snapshot.currentVersion(fs, root).get == before + 1)
  }
}
