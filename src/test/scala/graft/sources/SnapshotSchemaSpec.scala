package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import graft.SparkSpec

/** Schema evolution on the snapshot layer, where the schema is
  * MANIFEST metadata instead of footer IO: NULL-fill, pushdown,
  * add-only evolution, and evolved columns surviving every rewrite.
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
    assert(Snapshot.read(spark, dir).schema.fieldNames
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
    val df = Snapshot.read(spark, dir)
    assert(df.schema.fieldNames.contains("quality_bp"))
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
    // every rewrite keeps the evolved column: compaction and
    // clustering rewrite the wave's files under the declared schema
    def served(): Long =
      Snapshot.read(spark, dir).filter(col("quality_bp") === 777L).count()
    SnapshotOps.compact(spark, dir, maxFiles = 1)
    assert(served() == 40, "compact dropped evolved-column values")
    SnapshotOps.cluster(spark, dir, ("user_id", "event_id"))
    assert(served() == 40, "cluster dropped evolved-column values")
    // an upsert carrying the column commits and serves its values
    val fix = wave.filter(col("event_id") < 9000010L)
      .withColumn("quality_bp", lit(555L))
    SnapshotOps.upsert(spark, dir, fix, "event_id", "ym")
    assert(Snapshot.read(spark, dir)
      .filter(col("quality_bp") === 555L).count() == 10)
    assert(served() == 30)
    // a column the schema does not declare is refused, not dropped
    intercept[IllegalArgumentException] {
      SnapshotOps.upsert(spark, dir, fix.withColumn("extra", lit(1L)),
        "event_id", "ym")
    }
    // an upsert without the column still commits; its rows read NULL
    val plain = wave.filter(col("event_id") >= 9000030L)
      .drop("quality_bp").withColumn("event_type", lit("corrected"))
    SnapshotOps.upsert(spark, dir, plain, "event_id", "ym")
    val after = Snapshot.read(spark, dir)
      .filter(col("event_id") >= 9000030L && col("event_id") < 9000040L)
    assert(after.filter(col("event_type") === "corrected" &&
      col("quality_bp").isNull).count() == 10)
  }

  test("the schema tag survives evolution-unaware mutations, retypes " +
       "are refused, and a bootstrap append declares the schema") {
    val (dir, fs, root) = freshTable()
    // the bootstrap append recorded its batch's schema
    assert(Snapshot.schemaOf(fs, root, Snapshot.currentVersion(fs, root).get)
      .fieldNames.contains("event_id"))
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
    assert(Snapshot.schemaOf(fs, root, v).fieldNames.contains("quality_bp"),
      "schema tag lost through an evolution-unaware append")
    // retype refused loudly; identical re-declare is a no-op
    intercept[IllegalArgumentException] {
      SnapshotSchema.evolve(spark, dir,
        Seq(StructField("quality_bp", StringType)))
    }
    val before = Snapshot.currentVersion(fs, root).get
    SnapshotSchema.evolve(spark, dir, Seq(StructField("quality_bp", LongType)))
    assert(Snapshot.read(spark, dir).schema
      .fields.count(_.name == "quality_bp") == 1)
    assert(Snapshot.currentVersion(fs, root).get == before + 1)
  }
}
