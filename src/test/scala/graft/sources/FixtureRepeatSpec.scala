package graft.sources

import graft.SparkSpec

/** The bench protocol samples every gate query several times in one
  * session (warmup + timed passes), and the fixture-backed mutation
  * gates were redesigned so repeat invocations run REAL work against
  * a memoized base instead of rebuilding their fixture from scratch:
  *
  *  - `snapshot_upsert` re-upserts the correction feed (same keys,
  *    identical rows → same final state, real COW each time);
  *  - `snapshot_compact` runs a delete + re-append + compact cycle
  *    (the state returns to the same row set);
  *  - `snapshot_ingest_stream` re-drains over its checkpoint
  *    (exactly-once replay commits nothing);
  *  - `corpus_nightly_build` re-runs the three waves with fresh
  *    idempotency keys (every document is a re-crawl duplicate — the
  *    dedup pipeline runs, nothing commits).
  *
  * The mutation gates that rebuild their table from scratch on every
  * call (`corpus_upsert`, `compliance_delete`, `compact_partition`,
  * `schema_evolution`, `stats_prune`, `zorder_layout`) must start from
  * an empty scratch dir each time: an append into the previous call's
  * table doubles its rows.
  *
  * The protocol is only sound if every such invocation returns the
  * SAME relation — this spec pins exactly that (three invocations:
  * build, first repeat, second repeat — the repeat paths themselves
  * must also be idempotent).
  */
class FixtureRepeatSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def thrice(name: String)(
      q: => org.apache.spark.sql.DataFrame): Unit = {
    val first = rows(q)
    assert(first.nonEmpty, s"$name returned no rows")
    val second = rows(q)
    assert(second == first, s"$name changed between invocations 1 and 2")
    val third = rows(q)
    assert(third == first, s"$name changed between invocations 2 and 3")
  }

  test("snapshot_upsert is invocation-stable (re-upsert replaces the " +
       "same keys with identical rows)") {
    thrice("snapshot_upsert")(SnapshotOps.snapshotUpsertRollup(spark, sf))
  }

  test("snapshot_compact is invocation-stable (delete + re-append + " +
       "compact returns to the same row set, n_files stays 1)") {
    thrice("snapshot_compact")(SnapshotOps.snapshotCompactRollup(spark, sf))
  }

  test("snapshot_ingest_stream is invocation-stable (checkpoint replay " +
       "commits nothing)") {
    thrice("snapshot_ingest_stream")(
      graft.streaming.StreamOps.snapshotIngestStream(spark, sf))
  }

  test("corpus_nightly_build is invocation-stable (re-crawled waves " +
       "dedup to nothing)") {
    thrice("corpus_nightly_build")(
      graft.pipeline.Curation.corpusNightlyBuild(spark, sf))
  }

  test("snapshot_wap is invocation-stable (warm reads roll up the " +
       "memoized published state)") {
    thrice("snapshot_wap")(SnapshotWap.snapshotWap(spark, sf))
  }

  test("snapshot_point_lookup is invocation-stable (same derived keys, " +
       "same bloom plan, same rows)") {
    thrice("snapshot_point_lookup")(
      SnapshotStats.snapshotPointLookup(spark, sf))
  }

  test("snapshot_cdc_stream is invocation-stable (each drain gets a " +
       "fresh checkpoint over the same committed feed)") {
    thrice("snapshot_cdc_stream")(
      graft.streaming.StreamOps.snapshotCdcStream(spark, sf))
  }

  test("quality_classifier is invocation-stable (memoized model, " +
       "deterministic scoring)") {
    thrice("quality_classifier")(
      graft.pipeline.Curation.qualityClassifier(spark, sf))
  }

  test("corpus_upsert is invocation-stable (fresh table: convert, " +
       "upsert, read)") {
    thrice("corpus_upsert")(SnapshotOps.corpusUpsertRollup(spark, sf))
  }

  test("compliance_delete is invocation-stable (fresh table: convert, " +
       "bloomify, delete)") {
    thrice("compliance_delete")(SnapshotOps.complianceDeleteRollup(spark, sf))
  }

  test("compact_partition is invocation-stable (fresh table: three " +
       "appends, compact)") {
    thrice("compact_partition")(SnapshotOps.compactPartitionRollup(spark, sf))
  }

  test("schema_evolution is invocation-stable (fresh table: append, " +
       "evolve, append)") {
    thrice("schema_evolution")(SnapshotSchema.evolutionReport(spark, sf))
  }

  test("stats_prune is invocation-stable (fresh table: append, " +
       "statsify, skipping read)") {
    thrice("stats_prune")(SnapshotStats.timeWindow(spark, sf,
      graft.SparkEntry.SinceUs, graft.SparkEntry.UntilUs))
  }

  test("zorder_layout is invocation-stable (fresh table: append, " +
       "cluster, statsify, skipping read)") {
    thrice("zorder_layout")(SnapshotStats.siteWindow(spark, sf, "site_3",
      graft.SparkEntry.SinceUs, graft.SparkEntry.UntilUs))
  }
}
