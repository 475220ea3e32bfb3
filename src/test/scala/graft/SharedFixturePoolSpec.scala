package graft

import java.nio.file.{Files, Paths}

/** Queries that share session artifacts (snapshot fixtures, persisted
  * ANN indexes, cluster labels, gate artifacts) and the streaming
  * drains and backfill that used to open session-conf windows,
  * invoked for the FIRST time from a 4-thread pool — how Bench's
  * warmup pool meets them. Every result must equal a serial run.
  * Each run reads its own copy of sf0.001, so every memo key is fresh
  * and every shared artifact is built under the pool.
  */
class SharedFixturePoolSpec extends SparkSpec {

  private val families = Seq(
    "snapshot_time_travel", "snapshot_changes", "snapshot_changes_follow",
    "snapshot_cdc_stream",
    "ann_ivf_indexed", "ann_index_append", "ann_index_rebuild",
    "dedup_clusters", "split_assign", "dedup_keep",
    "clone_backfill", "sessionize_stream", "track_visitors_stream")

  /** A copy of sf0.001 at a scratch path removed at JVM exit. */
  private def freshCopy(copy: String): String = {
    val d = Paths.get(graft.sources.TmpDir.scoped(
      "pool_sf", spark.sparkContext.applicationId, copy))
    Files.list(Paths.get(sf)).forEach { f =>
      Files.copy(f, d.resolve(f.getFileName))
    }
    d.toString
  }

  private def rows(name: String, dir: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted

  test("shared-fixture families return the serial answer from a 4-thread pool") {
    val serialDir = freshCopy("serial")
    val serial = families.map(n => n -> rows(n, serialDir)).toMap
    val poolDir = freshCopy("pool")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val pooled = try {
      families.map { n =>
        n -> pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          override def call(): Seq[String] = rows(n, poolDir)
        })
      }.map { case (n, f) => n -> f.get() }.toMap
    } finally pool.shutdown()
    families.foreach { n =>
      withClue(n) {
        assert(serial(n).nonEmpty)
        assert(pooled(n) === serial(n))
      }
    }
  }
}
