package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Write–audit–publish (WAP) over [[Snapshot]] tables — the staging
  * workflow every production lakehouse runs between "the nightly
  * build landed" and "consumers may read it": stage the new data as
  * a real commit that MAIN READERS DO NOT SEE, run arbitrary audits
  * against the staged state, then publish (metadata-only) or reject
  * (revert to the published file set). Same shape as Iceberg's
  * `wap.id` stage + cherry-pick publish, reduced to this layer's
  * primitives.
  *
  * Mechanics — no new ref machinery, no second version sequence:
  *
  *  - **Stage** = an ordinary append commit carrying a `#wap=<id>`
  *    tag. All the existing guarantees (optimistic rename CAS,
  *    writer-unique staging, stats/bloom maintenance, vacuum safety)
  *    apply unchanged, because it IS an ordinary commit.
  *  - **Published version** = the newest committed version whose
  *    manifest carries NO `#wap=` tag. [[readPublished]] pins that.
  *    Unknown tags are carried forward by every mutation, so any
  *    further mutation on top of an unaudited stage is itself
  *    unpublished — unaudited data can never leak through a
  *    subsequent commit.
  *  - **Publish** = commit current's exact file set minus the wap
  *    tag. Shard pointers are reused wholesale (same per-partition
  *    file lists), so publish writes one root — METADATA-ONLY,
  *    O(partitions), never O(data).
  *  - **Reject** = commit the published version's file set on top.
  *    The staged files become unreferenced once the staged manifest
  *    leaves the retention window; vacuum reaps them — reject never
  *    deletes anything itself (the staged version stays
  *    time-travel-readable until retention, which is also what makes
  *    a post-mortem of rejected data possible).
  *
  * Stage, publish and reject are each one write transaction
  * ([[Snapshot.transact]]), and each checks the tags of the version
  * that transaction pinned: stage that no OTHER stage is pending,
  * publish and reject that the expected `#wap=<id>` is what they act
  * on. A lost commit race re-runs the check against the winner's
  * version, so two racing stages or finalizers cannot both win.
  */
object SnapshotWap {

  private val WapTag = "#wap="

  private def wapIdOf(tags: Seq[String]): Option[String] =
    tags.collectFirst { case t if t.startsWith(WapTag) =>
      t.stripPrefix(WapTag)
    }

  /** Stage `batch` as an append commit that published readers do not
    * see until [[publish]]. Returns the staged version.
    */
  def stage(spark: SparkSession, dir: String, batch: DataFrame,
            partCol: String, auditId: String): Long = {
    require(auditId.nonEmpty && !auditId.exists(c => c == '\n' || c == '\r'),
      "audit id must be a non-empty single-line token")
    Snapshot.transact(spark, dir, bootstrap = true) { p =>
      // one stage at a time: a second stage on top of an unaudited one
      // would carry BOTH #wap= tags forward, and publishing either
      // would expose the other's unaudited files — the exact leak this
      // module exists to prevent. Checked against each attempt's pin,
      // so a stage that lands while this one stages fails it on retry.
      val pending = p.tags.filter(t => t.startsWith(WapTag) && t != WapTag + auditId)
      require(pending.isEmpty,
        s"$dir already carries an unaudited stage " +
          s"(${pending.map(_.stripPrefix(WapTag)).mkString(", ")}) — " +
          "publish or reject it before staging another")
      SnapshotOps.appendPlan(spark, dir, batch, partCol,
        idempotencyKey = Some(s"wap-$auditId"),
        extraTags = Seq(WapTag + auditId))(p)
    }.version
  }

  /** The newest version with no `#wap=` tag — what consumers read.
    * Loud when every retained version is unpublished (retention ate
    * the last published manifest): serving the staged state instead
    * would be exactly the leak WAP exists to prevent.
    */
  def publishedVersion(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Snapshot.versions(fs, root).reverse
      .find(v => wapIdOf(Snapshot.tagsOf(fs, root, v)).isEmpty)
      .getOrElse(throw new IllegalStateException(
        s"no published version of $dir is retained — publish or reject " +
          "the staged commits before they outlive vacuum retention"))
  }

  /** The consumer read: snapshot-isolated at the published version. */
  def readPublished(spark: SparkSession, dir: String): DataFrame =
    Snapshot.readAt(spark, dir, publishedVersion(spark, dir))

  /** Publish the staged commit: current must carry `#wap=<auditId>`
    * (acting on someone else's stage fails loudly). Metadata-only —
    * the new manifest references the same files, shards reused.
    */
  def publish(spark: SparkSession, dir: String, auditId: String): Long =
    finalizeWap(spark, dir, auditId, keepStaged = true)

  /** Reject the staged commit: revert to the published file set. The
    * staged version remains time-travel-readable until vacuum
    * retention reaps it (post-mortem window).
    */
  def reject(spark: SparkSession, dir: String, auditId: String): Long =
    finalizeWap(spark, dir, auditId, keepStaged = false)

  /** Publish or reject in one transaction; a racing commit re-runs
    * the checks against the winner's version.
    */
  private def finalizeWap(spark: SparkSession, dir: String,
                          auditId: String, keepStaged: Boolean): Long =
    Snapshot.transact(spark, dir) { p =>
      // exact-tag membership, not collectFirst: with several #wap=
      // tags present the answer must not depend on tag order
      require(p.tags.contains(WapTag + auditId),
        s"current v${p.version} of $dir is not staged under audit id " +
          s"'$auditId' (found: ${wapIdOf(p.tags).getOrElse("none — already published?")})")
      val write =
        if (keepStaged) {
          // strip ONLY the matching stage tag; any OTHER #wap= tag
          // still on the manifest means a second unaudited stage is
          // stacked here, and committing without it would publish
          // that stage's files too — fail loudly instead (stage()
          // rejects stacking, so this guards legacy/external tables)
          val stacked = p.tags.filter(t => t.startsWith(WapTag) && t != WapTag + auditId)
          require(stacked.isEmpty,
            s"cannot publish '$auditId': v${p.version} also carries unaudited " +
              s"stage(s) ${stacked.map(_.stripPrefix(WapTag)).mkString(", ")} " +
              "— publishing would leak their files; reject or audit them first")
          Snapshot.Write(p.files, dropTags = _ == WapTag + auditId)
        } else {
          // re-commit the published version: its files, schema, shard
          // pointers and tags (expired like every commit's, so stale
          // idempotency tags cannot be resurrected)
          val pub = Snapshot.pinAt(spark, dir, publishedVersion(spark, dir))
          Snapshot.Write(pub.files, from = Some(pub))
        }
      (Some(write), p.version + 1)
    }

  /** Gate fixture + query: the full WAP lifecycle on the events
    * table — base build published, a BAD wave (rows flagged
    * `corrupt`) staged → audited → REJECTED, a GOOD wave (offset-id
    * `appended` rows) staged → audited → PUBLISHED — then the
    * consumer rollup of the published state. The audit is a real
    * query against the STAGED read (`Snapshot.read` sees it;
    * [[readPublished]] must not — both asserted in SnapshotSpec).
    * The hash gate proves end-to-end that rejected rows never
    * surfaced and published rows all did: the oracle is
    * events ∪ good-wave, with no knowledge of the bad wave.
    *
    * Memoized per (session, input dir) like the other versioned
    * fixtures; the published state is deterministic.
    */
  def snapshotWap(spark: SparkSession, dir: String): DataFrame = {
    val tmp = wapFixture(spark, dir)
    readPublished(spark, tmp)
      .groupBy(col("event_type"), col("date"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
      .orderBy("event_type", "date")
  }

  private def wapFixture(spark: SparkSession, dir: String): String =
    graft.Memo.dir(spark, "snapwap", dir) { tmp =>
      // month-partitioned: WAP exercises manifest machinery, which
      // is orthogonal to partition count — the 30-dir day layout
      // only multiplied staging/stats tasks (date stays in content)
      val events = Tables.events(spark, dir)
        .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
        .withColumn("ym", date_format(col("date"), "yyyy-MM"))
      SnapshotOps.append(spark, tmp, events, "ym", Some("wap-base"))

      def audit(): Boolean =
        Snapshot.read(spark, tmp)
          .filter(col("event_type") === "corrupt").isEmpty

      // wave 1: a corrupted delivery — the audit must catch it
      val bad = events
        .filter(pmod(col("user_id"), lit(101)) === 11)
        .withColumn("event_id", col("event_id") + lit(2000000000L))
        .withColumn("event_type", lit("corrupt"))
      stage(spark, tmp, bad, "ym", "wave-bad")
      require(!audit(), "audit failed to flag the bad wave")
      reject(spark, tmp, "wave-bad")

      // wave 2: a clean delivery — audited, published
      val good = events
        .filter(pmod(col("user_id"), lit(103)) === 13)
        .withColumn("event_id", col("event_id") + lit(3000000000L))
        .withColumn("event_type", lit("appended"))
      stage(spark, tmp, good, "ym", "wave-good")
      require(audit(), "audit rejected the good wave")
      publish(spark, tmp, "wave-good")
    }
}
