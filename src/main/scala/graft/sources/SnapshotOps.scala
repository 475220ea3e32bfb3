package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables

/** graft's table mutations over [[Snapshot]]'s versioned-manifest
  * commits — upsert, erasure, compaction, clustering and append, with
  * FILE-granular copy-on-write:
  *
  *  - plan against the pinned manifest (never a directory listing):
  *    the files actually holding affected keys come from one
  *    key-pruned scan with `input_file_name()`, so an untouched file
  *    is neither read twice nor rewritten. Every scan runs under the
  *    pinned schema ([[Snapshot.scan]]), so a rewrite keeps every
  *    declared column, evolved ones included;
  *  - rewrite only those files (plus one new file set per partition
  *    receiving inserts) in ONE staged `partitionBy` write job — the
  *    per-partition subplans (kept-rows anti-join ∪ incoming) are
  *    tagged with their destination dir and unioned, so a mutation
  *    touching a thousand partitions is still one Spark job, not a
  *    thousand sequential driver-looped jobs. Placement is then one
  *    metadata RENAME per partition (stage subdir → per-version
  *    subdir); live files are never renamed, moved or overwritten;
  *  - hand the complete next file set to [[Snapshot.transact]], the
  *    one write transaction: it commits ONE manifest rename (a reader
  *    that pinned before the commit keeps its intact old version, a
  *    reader pinning after sees the complete new one — the
  *    all-old-or-all-new guarantee per-partition directory renames
  *    cannot give across partitions; SnapshotSpec proves both sides,
  *    plus the crash windows), collects the staged files' maintained
  *    stats, carries and expires the tags, re-runs a plan that lost
  *    the commit race, and vacuums.
  *
  * Crash windows stay closed with the staged write: a death mid-stage
  * leaves `.snap_stage_v*` orphans no manifest references (reaped by
  * [[Snapshot.vacuum]] once past [[Snapshot.StageGraceMs]] — younger
  * stage dirs may belong to a live concurrent writer); a death
  * mid-rename leaves unreferenced per-version subdirs (reaped by the
  * next vacuum); the manifest rename remains the only commit point.
  * Placement destinations are writer-unique (`u<version>_<token>`), so
  * two writers optimistically racing the same next version can never
  * rename over — or delete — each other's placed or committed files.
  *
  * Every transaction ends with a vacuum at the default retention, so
  * storage is bounded at ~[[Snapshot.KeepVersions]]× the churn while
  * still letting a straggling reader finish against the previous
  * version.
  */
object SnapshotOps {

  case class MutationStats(version: Long, partitions: Seq[String],
                           retiredFiles: Long, newFiles: Long)

  private val StageTag = "__snap_part"

  /** A plan's answer when it has nothing to commit. */
  private def unchanged(p: Snapshot.Pin): (Option[Snapshot.Write], MutationStats) =
    (None, MutationStats(p.version, Nil, 0L, 0L))

  private def escapePart(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(v)
  private def unescapePart(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(v)

  /** MERGE-INTO over a snapshot table: rows of `batch` replace
    * same-key rows wherever they live (old versions leave their
    * files even when the new row moved partitions); unmatched rows
    * insert into their `partCol` partition. `partCol` is compared as
    * string (the snapshot data column). The batch is aligned to the
    * table's declared schema by name: a declared column the batch
    * lacks lands as NULL, and an undeclared one is refused.
    */
  def upsert(spark: SparkSession, dir: String, batch: DataFrame,
             keyCol: String, partCol: String): MutationStats = {
    val b = batch.withColumn(partCol, col(partCol).cast("string")).cache()
    try {
      // one aggregate answers both the batch size and the duplicate
      // guard — the two separate count jobs this replaces were each a
      // full pass over the (cached) batch
      // NULL-inclusive distinct (count_distinct ignores the null
      // group — a single-NULL-key batch must not misreport as
      // "duplicates"); same semantics as keys.distinct().count()
      val r = b.agg(count(lit(1)), count_distinct(col(keyCol)) +
        max(when(col(keyCol).isNull, 1L).otherwise(0L))).head()
      val nBatch = r.getLong(0)
      require(nBatch == 0 || r.getLong(1) == nBatch,
        s"upsert batch carries duplicate $keyCol values")
      if (nBatch == 0) {
        val root = new Path(dir)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        return MutationStats(Snapshot.currentVersion(fs, root).getOrElse(0L),
          Nil, 0L, 0L)
      }
      val keys = b.select(keyCol)
      mutate(spark, dir, keys, keyCol,
        incomingParts = b.select(partCol).distinct()
          .collect().map(_.getString(0)).toSeq,
        incoming = Some(b), partCol = partCol)
    } finally b.unpersist()
  }

  /** Compliance erasure over a snapshot table: every row whose
    * `keyCol` is in `keys` disappears in the committed version; only
    * files that actually held such rows are rewritten.
    */
  def delete(spark: SparkSession, dir: String, keys: DataFrame,
             keyCol: String): MutationStats =
    mutate(spark, dir, keys.distinct(), keyCol,
      incomingParts = Nil, incoming = None)

  /** The shared COW core: retire the files holding `keys`, replace
    * each affected partition's retired rows with (retired minus keys)
    * ∪ incoming — all partitions staged in ONE write job — and commit
    * the result in one transaction.
    */
  private def mutate(spark: SparkSession, dir: String, keys: DataFrame,
                     keyCol: String, incomingParts: Seq[String],
                     incoming: Option[DataFrame],
                     partCol: String = ""): MutationStats =
    Snapshot.transact(spark, dir) { p =>
      val bkeys = broadcast(keys)

      // the files holding affected keys — ONE key-pruned plan scan of
      // the pinned set; metadata-sized result
      val root = new Path(dir)
      val rootUri = root.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(root).toUri.getPath
      def relOf(f: String): String = new Path(f).toUri.getPath
        .stripPrefix(rootUri).stripPrefix("/")
      val hitRels = Snapshot.readPin(spark, dir, p)
        .withColumn("f", input_file_name())
        .join(bkeys, Seq(keyCol), "left_semi")
        .select("f").distinct()
        .collect().map(r => relOf(r.getString(0))).toSet
      def partOf(rel: String): String = rel.substring(0, rel.indexOf('/'))
      val affected = (hitRels.map(partOf) ++
        incomingParts.map(v => partDirOf(p, v))).toSeq.distinct.sorted
      if (affected.isEmpty) unchanged(p)
      else {
        // ONE kept-rows subplan for ALL affected partitions (per-partition
        // scan branches carry only a literal destination tag — no join),
        // anti-joined against the broadcast keys ONCE, then unioned with
        // the ONE destination-tagged incoming frame. The previous shape
        // ran the anti-join per partition: O(affected partitions) join
        // operators in a single plan, which at a thousand-partition
        // correction feed is a planning-time problem (guide §7.3) and
        // locally re-optimized/codegen'd N identical joins.
        val keepBranches = affected.flatMap { part =>
          val partHits = p.files.filter(f => f.startsWith(s"$part/") && hitRels(f))
          if (partHits.isEmpty) None
          else Some(Snapshot.scan(spark, dir, p.schema, partHits)
            .withColumn(StageTag, lit(part)))
        }
        val keep =
          if (keepBranches.isEmpty) None
          else Some(keepBranches.reduce(_ unionByName _)
            .join(bkeys, Seq(keyCol), "left_anti"))
        // incoming rows route to their destination dir via a broadcast
        // (value → dir) map — O(1) plan size however many partitions the
        // batch lands in (a when-chain would grow the expression tree
        // linearly). Rows with NULL/unknown part values drop, exactly as
        // the previous per-partition equality filters dropped them.
        val incomingTagged = incoming.map { raw =>
          import spark.implicits._
          val b = alignTo(spark, raw, p.schema)
          val dirByValue = incomingParts.filter(_ != null)
            .map(v => v -> partDirOf(p, v)).distinct
          val routes = dirByValue.toDF("__pv", StageTag)
          b.join(broadcast(routes), b(partCol).cast("string") === col("__pv"))
            .drop("__pv")
        }
        val out = (keep, incomingTagged) match {
          case (Some(k), Some(in)) => Some(k.unionByName(in))
          case (Some(k), None) => Some(k)
          case (None, Some(in)) => Some(in)
          case (None, None) => None
        }
        // cluster the staged write by destination dir (AQE rebalance:
        // coalesces small partitions, splits skewed ones at advisory
        // size). Without it every input task holding rows of k
        // destinations writes k files — the cached batch alone staged
        // O(tasks × partitions) small files per commit, and every later
        // plan scan and rollup read paid the file-count tax.
        val newFiles = stageAndPlace(spark, dir, affected, out,
          p.version + 1, layout = df => df.hint("rebalance", StageTag))
        (Some(Snapshot.Write(p.files.filterNot(hitRels) ++ newFiles, newFiles)),
          MutationStats(p.version + 1, affected, hitRels.size.toLong,
            newFiles.size.toLong))
      }
    }

  /** `batch` with exactly the columns of `schema`, by name and in its
    * order: a declared column the batch lacks comes back NULL, and a
    * column the schema does not declare is refused (evolve first).
    */
  private def alignTo(spark: SparkSession, batch: DataFrame,
                      schema: StructType): DataFrame = {
    val same = spark.sessionState.conf.resolver
    val undeclared = batch.columns.filterNot(c => schema.fieldNames.exists(same(_, c)))
    require(undeclared.isEmpty,
      s"batch carries undeclared columns ${undeclared.mkString(", ")}; " +
        "declare them with SnapshotSchema.evolve first")
    batch.select(schema.fields.toSeq.map { f =>
      (if (batch.columns.exists(same(_, f.name))) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }: _*)
  }

  /** The staged-write placement shared by every mutation: union the
    * tagged per-partition subplans, write them in ONE
    * `partitionBy(__snap_part)` job under a hidden stage dir, then
    * RENAME each staged subdir into its partition's per-version
    * subdir (metadata-only; a partition whose subplan produced no
    * rows simply stages no dir). Returns the new relative file list.
    *
    * Both the stage dir and every destination subdir carry a
    * WRITER-UNIQUE token (`u<version>_<token>/`): under the optimistic
    * protocol two racing writers legitimately target the same next
    * version, so a deterministic destination would let the loser
    * delete or rename over files the winner already COMMITTED —
    * manifest-referenced data destroyed by a writer that then merely
    * retries. With unique names no placement can ever collide with a
    * live writer's; a dead writer's placed-but-never-committed dirs
    * are unreferenced orphans that [[Snapshot.vacuum]] reaps, so no
    * pre-placement delete is needed (or allowed) here.
    */
  private def stageAndPlace(spark: SparkSession, dir: String,
                            parts: Seq[String],
                            taggedUnion: Option[DataFrame],
                            newVersion: Long,
                            layout: DataFrame => DataFrame = identity)
      : Seq[String] = {
    val newFiles = scala.collection.mutable.ArrayBuffer.empty[String]
    val union = taggedUnion.getOrElse(return newFiles.toSeq)
    if (parts.isEmpty) return newFiles.toSeq
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val token = Snapshot.writerToken()
    val stage = f".snap_stage_v$newVersion%08d_$token"
    val staged = layout(union)
    staged.write.mode("overwrite").partitionBy(StageTag)
      .parquet(s"$dir/$stage")
    parts.foreach { part =>
      val src = new Path(root, s"$stage/$StageTag=${escapePart(part)}")
      if (fs.exists(src))
        newFiles ++= Snapshot.place(fs, root, src, s"$part/u${newVersion}_$token")
    }
    fs.delete(new Path(root, stage), true)
    newFiles.toSeq
  }

  /** The partition dir name an incoming partition value maps to:
    * reuse the spelling of an existing pinned dir when one matches
    * (dirs were written escaped), else escape the value.
    */
  private def partDirOf(p: Snapshot.Pin, value: String): String = {
    val dirName = p.files.map(f => f.substring(0, f.indexOf('/')))
      .find(d => unescapePart(d.substring(d.indexOf('=') + 1)) == value)
    dirName.getOrElse {
      val col = p.files.headOption.map(f => f.substring(0, f.indexOf('=')))
        .getOrElse("part")
      s"$col=${escapePart(value)}"
    }
  }

  /** Compaction over a snapshot table: partitions whose live file
    * count exceeds `maxFiles` are rewritten into one file each —
    * all partitions in one clustered staged write (`repartition` on
    * the stage tag puts each partition's rows in one task, so each
    * staged dir holds exactly one file) — and commit is one manifest
    * rename (multi-partition atomicity a per-directory swap lacks).
    */
  def compact(spark: SparkSession, dir: String,
              maxFiles: Int = 4): MutationStats =
    Snapshot.transact(spark, dir) { p =>
      val byPart = p.files.groupBy(f => f.substring(0, f.indexOf('/')))
      val affected = byPart.filter(_._2.size > maxFiles).keys.toSeq.sorted
      if (affected.isEmpty) unchanged(p)
      else {
        val newFiles = stageAndPlace(spark, dir, affected,
          Some(taggedParts(spark, dir, p, byPart, affected)), p.version + 1,
          layout = df => df.repartition(affected.size, col(StageTag)))
        val retired = affected.flatMap(byPart).toSet
        (Some(Snapshot.Write(p.files.filterNot(retired) ++ newFiles, newFiles)),
          MutationStats(p.version + 1, affected, retired.size.toLong,
            newFiles.size.toLong))
      }
    }

  /** The rows of `parts` under pin `p`'s schema, each tagged with its
    * partition dir — the input of a whole-partition rewrite.
    */
  private def taggedParts(spark: SparkSession, dir: String, p: Snapshot.Pin,
                          byPart: Map[String, Seq[String]],
                          parts: Seq[String]): DataFrame =
    parts.map { part =>
      Snapshot.scan(spark, dir, p.schema, byPart(part))
        .withColumn(StageTag, lit(part))
    }.reduce(_ unionByName _)

  /** Bit-interleave two non-negative bucket columns into the Morton
    * code: bit i of `a` lands at 2i, bit i of `b` at 2i+1. One
    * `aggregate` over the bit positions — stays in whole-stage
    * codegen, no UDF.
    */
  def interleave(a: Column, b: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, "bits must fit both lanes in int64")
    val cap = (1L << bits) - 1
    val az = least(a.cast("long"), lit(cap))
    val bz = least(b.cast("long"), lit(cap))
    // the shift amount is a lambda variable, so the shifts go through
    // call_function (the Scala shiftleft/shiftrightunsigned helpers
    // only accept literal amounts)
    def bit(v: Column, i: Column): Column =
      call_function("shiftrightunsigned", v, i).bitwiseAND(lit(1L))
    aggregate(
      sequence(lit(0), lit(bits - 1)),
      lit(0L),
      (acc, i) => acc
        + call_function("shiftleft", bit(az, i), lit(2) * i)
        + call_function("shiftleft", bit(bz, i), lit(2) * i + lit(1)))
  }

  /** Clustering rewrite (OPTIMIZE ZORDER reduced to its core): lay
    * the whole table out along the Morton interleave of two columns —
    * every partition staged in ONE `repartitionByRange` write job over
    * (partition, z), sorted within tasks, so each produced file covers
    * a contiguous z-range = a tight RECTANGLE in (colA, colB) space.
    * With zone maps on ([[SnapshotStats.statsify]] on the same
    * columns — the rewritten files' stats land through the
    * `#statscols` maintenance path automatically), a conjunctive
    * range predicate on either or both columns prunes to the
    * intersecting tiles — the layout step that makes file skipping
    * SELECTIVE instead of lucky, which is the difference between
    * opening 4 files and 4,000 at 100 TB. It commits through the same
    * transaction as every mutation.
    *
    * `filesPerPartition` sizes the z-granularity (range partitions =
    * partitions × filesPerPartition); production sizes it so files
    * land near the target file size. `bits` bounds the per-column
    * Morton resolution ([[interleave]] clamps larger values —
    * clustering degrades gracefully above 2^bits, correctness never
    * depends on it).
    */
  def cluster(spark: SparkSession, dir: String, zCols: (String, String),
              filesPerPartition: Int = 4, bits: Int = 21): MutationStats =
    Snapshot.transact(spark, dir) { p =>
      val byPart = p.files.groupBy(f => f.substring(0, f.indexOf('/')))
      val affected = byPart.keys.toSeq.sorted
      if (affected.isEmpty) unchanged(p)
      else {
        val z = interleave(col(zCols._1), col(zCols._2), bits)
        val nRanges = math.max(1, affected.size * filesPerPartition)
        val newFiles = stageAndPlace(spark, dir, affected,
          Some(taggedParts(spark, dir, p, byPart, affected)), p.version + 1,
          layout = df => df.withColumn("__z", z)
            .repartitionByRange(nRanges, col(StageTag), col("__z"))
            .sortWithinPartitions(col(StageTag), col("__z"))
            .drop("__z"))
        (Some(Snapshot.Write(newFiles, newFiles)),
          MutationStats(p.version + 1, affected, p.files.size.toLong,
            newFiles.size.toLong))
      }
    }

  /** RESTORE — roll the table back to a retained earlier version as
    * a NEW commit (Delta `RESTORE` / Iceberg rollback): the new
    * manifest references the target version's files verbatim, so the
    * operation is METADATA-ONLY — no data is copied, rewritten or
    * deleted, and history stays intact (the undone versions remain
    * time-travel-readable until vacuum retention reaps them, so a
    * restore is itself restorable). The target must still be retained
    * — [[Snapshot.pinAt]] fails loudly past retention, never serving
    * a partially-reaped file set. A restore to the CURRENT file set
    * is a no-op (no empty commit), which also makes warm gate
    * invocations stable. The write re-commits the target version
    * (`from`): its schema, its shard pointers (stats travel with them)
    * and its tags — stats/bloom maintenance columns travel with the
    * state being restored, and idempotency keys past their
    * [[Snapshot.TagKeepVersions]] window expire like on every commit.
    */
  def restore(spark: SparkSession, dir: String, version: Long): Long =
    Snapshot.transact(spark, dir) { p =>
      val target = Snapshot.pinAt(spark, dir, version)
      if (p.files == target.files) (None, p.version)
      else (Some(Snapshot.Write(target.files, from = Some(target))), p.version + 1)
    }

  /** Gate fixture + query: build (v1) → a compliance-style delete
    * wave lands (v2, drops `user_id % 7 = 3`) → operator realizes the
    * wave was wrong and RESTOREs v1 (v3, metadata-only) — then the
    * rollup of the restored table. The oracle is the plain relational
    * rollup of the ORIGINAL events: a hash match proves the restore
    * brought back every deleted row exactly and the delete left no
    * residue. The lifecycle is memoized per (session, input dir) —
    * the restore target leaves retention once the restore commits, so
    * warm invocations price the consumer read of the restored state
    * (re-issuing a restore whose target is vacuumed fails loudly by
    * design — that contract is SnapshotSpec's to pin).
    */
  def snapshotRestore(spark: SparkSession, dir: String): DataFrame = {
    val tmp = restoreFixture(spark, dir)
    Snapshot.read(spark, tmp)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"),
        sum("user_id").as("sum_uid"))
      .orderBy("date")
  }

  private def restoreFixture(spark: SparkSession, dir: String): String =
    graft.Memo.dir(spark, "snaprestore", dir) { tmp =>
      val events = datedEvents(spark, dir)
        .withColumn("ym", date_format(col("date"), "yyyy-MM"))
      val v1 = append(spark, tmp, events, "ym", Some("restore-base"))
        .version
      delete(spark, tmp,
        events.filter(pmod(col("user_id"), lit(7)) === 3)
          .select("event_id"), "event_id")
      restore(spark, tmp, v1)
    }

  /** Append-only ingest commit — the primitive continuous ingestion
    * needs: the batch's partitions stage as NEW files (no key
    * pruning, no rewrites, live files untouched — O(batch) work
    * regardless of table size), the next manifest is pinned ∪ new,
    * and the commit is one conflict-retried manifest rename.
    * Bootstraps an empty (unconverted) table at v1.
    *
    * `idempotencyKey` makes replays safe without a transaction log:
    * the key is recorded as a version-stamped `#appended@V=` tag line
    * in the manifest, tags are copied forward by every commit, and
    * an append whose key is already visible on the CURRENT version is
    * a no-op — so a restarted stream re-delivering a micro-batch
    * commits nothing twice. The protection window is
    * [[Snapshot.TagKeepVersions]] commits after the key first landed
    * (expiry happens at commit time, so the manifest's tag section
    * stays bounded under continuous ingest) — the same bounded-window
    * semantics table formats document for per-writer transaction ids.
    */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             partCol: String,
             idempotencyKey: Option[String] = None,
             extraTags: Seq[String] = Nil): MutationStats =
    Snapshot.transact(spark, dir, bootstrap = true)(
      appendPlan(spark, dir, batch, partCol, idempotencyKey, extraTags))

  /** [[append]]'s plan against pin `p`; [[SnapshotWap.stage]] runs it
    * after checking the pin for a pending stage.
    */
  private[sources] def appendPlan(spark: SparkSession, dir: String,
                                  batch: DataFrame, partCol: String,
                                  idempotencyKey: Option[String],
                                  extraTags: Seq[String])
                                 (p: Snapshot.Pin)
      : (Option[Snapshot.Write], MutationStats) = {
    val b = batch.withColumn(partCol, col(partCol).cast("string"))
    val parts =
      if (idempotencyKey.exists(p.tags.flatMap(Snapshot.tagKeyOf).toSet)) Nil
      else b.select(partCol).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    if (parts.isEmpty) unchanged(p)
    else {
      // destination routing via a broadcast (value → dir) map joined
      // once — one staged subplan regardless of how many partitions the
      // batch lands in (the per-partition filter branches this replaces
      // made the plan O(partitions))
      val dirByValue = parts.filter(_ != null).map { v =>
        v -> (if (p.files.isEmpty) s"$partCol=${escapePart(v)}"
              else partDirOf(p, v))
      }
      val destParts = dirByValue.map(_._2).distinct.sorted
      import spark.implicits._
      val routes = dirByValue.toDF("__pv", StageTag)
      val taggedUnion = b.join(broadcast(routes),
        b(partCol) === col("__pv")).drop("__pv")
      // same destination-clustered staging as the mutation core: one
      // file-set per partition at advisory size, not one per (input
      // task × partition)
      val newFiles = stageAndPlace(spark, dir, destParts,
        Some(taggedUnion), p.version + 1,
        layout = df => df.hint("rebalance", StageTag))
      // a bootstrap declares its batch's schema as a footer read
      // returns it: Spark writes every field nullable
      (Some(Snapshot.Write(p.files ++ newFiles, newFiles,
        schema = if (p.version == 0L) Some(b.schema.toNullable) else None,
        addTags = idempotencyKey.map(Snapshot.mkTag(p.version + 1, _)).toSeq ++
          extraTags)),
        MutationStats(p.version + 1, destParts, 0L, newFiles.size.toLong))
    }
  }

  /** A scratch table dir for `purpose`, emptied: the gates that rebuild
    * their table on every call start here, so a repeat call never
    * appends onto the previous call's table.
    */
  private[sources] def freshTable(spark: SparkSession, purpose: String,
                                  dir: String): String = {
    val tmp = TmpDir.scoped(purpose, spark.sparkContext.applicationId, dir)
    val root = new Path(tmp)
    root.getFileSystem(spark.sessionState.newHadoopConf()).delete(root, true)
    tmp
  }

  /** `events` with its `date` (the partition column of the date
    * layout every upsert/delete gate starts from).
    */
  private def datedEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))

  /** Write `events` as a date-partitioned layout under `tmp` and
    * convert it to snapshot management (v1).
    */
  private def convertDateLayout(spark: SparkSession, events: DataFrame,
                                tmp: String): Unit = {
    events.repartition(col("date"))
      .write.mode("overwrite").partitionBy("date").parquet(tmp)
    Snapshot.convert(spark, tmp, "date")
  }

  private def upsertRollup(table: DataFrame): DataFrame =
    table.groupBy(col("date"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "corrected", 1L).otherwise(0L)).as("n_corrected"),
        sum(when(col("event_type") === "inserted", 1L).otherwise(0L)).as("n_inserted"),
        sum("event_id").as("sum_id"))
      .orderBy("date")

  /** The `corpus_upsert` gate: the correction feed (updates for
    * `user_id % 89 = 5`, offset-id inserts for `% 89 = 7`, first week
    * of each month) applied to a table built from scratch on every
    * call — date layout, convert, upsert, snapshot read. It gates the
    * convert-then-mutate lifecycle on a fresh table, which
    * `snapshot_upsert`'s memoized base skips after its first call;
    * the two share the relational oracle.
    */
  def corpusUpsertRollup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshTable(spark, "upsert", dir)
    val events = datedEvents(spark, dir)
    convertDateLayout(spark, events, tmp)
    upsert(spark, tmp, correctionFeed(events), "event_id", "date")
    upsertRollup(Snapshot.read(spark, tmp))
  }

  /** The `compliance_delete` gate: erase a subject set
    * (`user_id % 97 = 3`, the stand-in for a delete-request batch)
    * from a freshly converted date layout whose files carry per-file
    * `user_id` blooms, then roll up what remains. The key is not
    * unique, so each subject's rows leave many files in one commit,
    * and the rewritten files get fresh blooms through the
    * `#bloomcols` maintenance path. The oracle is the anti-join over
    * the same subject set.
    */
  def complianceDeleteRollup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshTable(spark, "compliance", dir)
    val events = datedEvents(spark, dir)
    convertDateLayout(spark, events, tmp)
    SnapshotStats.bloomify(spark, tmp,
      Seq(SnapshotStats.BloomSpec("user_id", 1024, 2)))
    delete(spark, tmp,
      events.select("user_id").filter(pmod(col("user_id"), lit(97)) === 3),
      "user_id")
    Snapshot.read(spark, tmp)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        sum("event_id").as("sum_id"))
      .orderBy("date")
  }

  /** The `compact_partition` gate: three interleaved appends fragment
    * EVERY day of a fresh table, [[compact]] folds each day to one
    * file in one commit, and the rollup of the compacted read proves
    * no row was lost or duplicated. `snapshot_compact` runs the same
    * verb over the first week only, re-fragmenting one day per warm
    * call.
    */
  def compactPartitionRollup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshTable(spark, "compact", dir)
    val events = datedEvents(spark, dir)
    (0 until 3).foreach { i =>
      append(spark, tmp, events.filter(pmod(col("event_id"), lit(3)) === i),
        "date")
    }
    compact(spark, tmp, maxFiles = 1)
    Snapshot.read(spark, tmp)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
      .orderBy("date")
  }

  /** The `snapshot_upsert` gate: the `corpus_upsert` correction feed
    * applied through snapshot commits against the session's converted
    * base table, rolled up from a snapshot-isolated read. The
    * isolation/crash properties are SnapshotSpec's.
    *
    * The one-time date-layout conversion is memoized per (session,
    * input dir); EVERY invocation runs the upsert itself (a real
    * file-granular COW mutation — re-upserting the same feed replaces
    * the same keys with identical rows, so the rollup is
    * deterministic while the mutation work stays priced). A bench's
    * warm samples therefore price the steady-state mutation, not the
    * once-per-corpus migration — the number that matters at 100 TB,
    * where conversion happens once and corrections land nightly.
    */
  def snapshotUpsertRollup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = upsertBaseFixture(spark, dir)
    upsert(spark, tmp, correctionFeed(datedEvents(spark, dir)),
      "event_id", "date")
    upsertRollup(Snapshot.read(spark, tmp))
  }

  /** The deterministic correction feed shared by the upsert fixtures:
    * first-week updates (`user_id % 89 = 5` → corrected) plus
    * offset-id inserts (`% 89 = 7`).
    */
  private def correctionFeed(events: DataFrame): DataFrame = {
    val inWindow = dayofmonth(col("date")) <= 7
    val updates = events
      .filter(pmod(col("user_id"), lit(89)) === 5 && inWindow)
      .withColumn("event_type", lit("corrected"))
    val inserts = events
      .filter(pmod(col("user_id"), lit(89)) === 7 && inWindow)
      .withColumn("event_id", col("event_id") + lit(1000000000L))
      .withColumn("event_type", lit("inserted"))
    updates.unionByName(inserts)
  }

  /** The converted (v1) base table `snapshot_upsert` mutates — built
    * once per (session, input dir). Distinct from [[versionedFixture]]
    * (which the read-side gates share and must stay at its exact
    * two-commit lineage): this table accumulates one upsert commit per
    * `snapshot_upsert` invocation, with vacuum bounding the storage.
    */
  private def upsertBaseFixture(spark: SparkSession, dir: String): String =
    graft.Memo.dir(spark, "snapupsert", dir) { tmp =>
      convertDateLayout(spark, datedEvents(spark, dir), tmp)
    }

  /** The shared fixture construction: events date layout → convert
    * (v1) → the correction feed landed as ONE snapshot commit (v2).
    * Both versions stay live under the default
    * [[Snapshot.KeepVersions]] retention — exactly the straggler
    * window the vacuum policy promises.
    */
  private def buildAndUpsert(spark: SparkSession, dir: String,
                             tmp: String): Unit = {
    val events = datedEvents(spark, dir)
    convertDateLayout(spark, events, tmp)
    upsert(spark, tmp, correctionFeed(events), "event_id", "date")
  }

  /** The versioned two-commit table (v1 = converted base, v2 = the
    * correction-feed upsert), memoized per (session, input dir): the
    * versioned table IS an artifact — time-travel and incremental
    * readers consume committed versions of ONE table, the way every
    * table format's audit/CDC consumers do; rebuilding the table per
    * consumer would charge the mutation cost once per reader (the
    * same sharing argument as [[graft.pipeline.Dedup]]'s
    * cluster-labels artifact). `snapshot_upsert` keeps its own
    * independent build so its gate (and standing bench row) still
    * prices the mutation itself.
    */
  private def versionedFixture(spark: SparkSession, dir: String): String =
    graft.Memo.dir(spark, "snapvers", dir) { tmp =>
      buildAndUpsert(spark, dir, tmp)
    }

  /** Time-travel gate query: the rollup of VERSION 1 resolved AFTER
    * v2 committed — the pinned old manifest still answers the exact
    * pre-mutation state (immutable data files + retained manifest),
    * which is what audit and repro reads ("the corpus as of
    * yesterday's build") need. `n_corrected` is carried so the gate
    * proves the post-mutation rows are INVISIBLE at v1, not merely
    * that some rollup came back.
    */
  def snapshotTimeTravel(spark: SparkSession, dir: String): DataFrame =
    Snapshot.readAt(spark, versionedFixture(spark, dir), 1L)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "corrected", 1L).otherwise(0L)).as("n_corrected"),
        sum("event_id").as("sum_id"))
      .orderBy("date")

  /** The row-level change set between two committed versions, derived
    * from the MANIFEST diff: only files retired or added between the
    * versions are scanned (churn-sized IO — never the table), and
    * rewritten-but-kept rows cancel in one signed full-row
    * aggregation (no join). Rows present only in `to` carry
    * op = "add"; rows present only in `from` carry op = "remove",
    * and `n` carries the NET multiplicity (a row duplicated k times
    * that disappears emits one "remove" row with n = k) so a consumer
    * replaying the delta row-by-row applies each change the right
    * number of times — without it, duplicate rows under-apply.
    * At 100 TB this is the downstream-consumer primitive: a nightly
    * consumer reads the delta between two builds, not the corpus.
    *
    * Both sides scan under `to`'s declared schema — `to` may be an
    * EMPTY manifest (a compliance delete can legally erase the whole
    * table) and the change set is then all-removes, not a crash.
    */
  def changesBetween(spark: SparkSession, tableDir: String,
                     from: Long, to: Long): DataFrame = {
    val pf = Snapshot.pinAt(spark, tableDir, from)
    val pt = Snapshot.pinAt(spark, tableDir, to)
    val retired = pf.files.filterNot(pt.files.toSet)
    val fresh = pt.files.filterNot(pf.files.toSet)
    val cols = pt.schema.fieldNames.toSeq.map(col)
    Snapshot.scan(spark, tableDir, pt.schema, retired)
      .withColumn("__w", lit(-1L))
      .unionByName(Snapshot.scan(spark, tableDir, pt.schema, fresh)
        .withColumn("__w", lit(1L)))
      .groupBy(cols: _*)
      .agg(sum(col("__w")).as("__net"))
      .filter(col("__net") =!= 0L)
      .withColumn("op",
        when(col("__net") > 0L, lit("add")).otherwise(lit("remove")))
      .withColumn("n", abs(col("__net")))
      .drop("__net")
  }

  /** Incremental (CDC-style) gate query: the v1→v2 change set of the
    * shared fixture rolled up by op × date. The oracle derives the
    * same change set relationally from the deterministic correction
    * feed: each update contributes its old row as a remove and its
    * corrected row as an add; each insert contributes one add.
    */
  def snapshotChanges(spark: SparkSession, dir: String): DataFrame =
    changesBetween(spark, versionedFixture(spark, dir), 1L, 2L)
      .groupBy(col("op"), col("date"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
      .orderBy("op", "date")

  /** Numbers the `refrag-N` idempotency keys of the warm
    * [[snapshotCompactRollup]] cycles, so each re-append lands.
    */
  private val compactEpoch = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Compaction gate query: fragment a snapshot table (first
    * invocation: a fresh table under three interleaved append
    * commits; later invocations: a single-partition delete +
    * re-append cycle on the memoized table — deterministic state,
    * real mutations every sample, at daily-churn footprint),
    * compact to one file per partition, then roll up the
    * compacted read WITH the per-partition live-file count from the
    * committed manifest — so the hash gate proves BOTH that no row
    * was lost or duplicated AND that the one-file invariant actually
    * holds (the oracle pins `n_files` to the literal 1). Maintenance
    * compaction is how a 100 TB table keeps its file count sane under
    * continuous small-batch ingest; the first run prices the exact
    * ingest-then-compact lifecycle, warm samples price the recurring
    * churn-then-recompact cycle — the steady-state maintenance cost.
    */
  def snapshotCompactRollup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scoped("snapcompact",
      spark.sparkContext.applicationId, dir)
    // first-week partitions only: the lifecycle (fragment → compact →
    // invariant) is identical on any partition subset, and a gate
    // should not cost five full-table materializations
    val events = datedEvents(spark, dir)
      .filter(dayofmonth(col("date")) <= 7)
      .withColumn("date", col("date").cast("string"))
    // first invocation: the full ingest-then-compact lifecycle on a
    // fresh table (three interleaved appends fragment every partition)
    val fresh = graft.Memo.bootstrap(spark, "snapcompact", dir) {
      freshTable(spark, "snapcompact", dir)
      (0 until 3).foreach { i =>
        append(spark, tmp,
          events.filter(pmod(col("event_id"), lit(3)) === i),
          "date", Some(s"seed-$i"))
      }
    }
    if (!fresh) {
      // later invocations: RE-fragment ONE partition (day 1) with a
      // delete + re-append of a third of its rows, so every sample
      // still prices real mutations and a real compaction, at the
      // footprint daily churn actually has — one hot partition, not
      // the whole table (the r11 all-partitions cycle made this the
      // suite's most disk-bound warm row: 5.9–16.9 s across driver
      // seats on pure disk variance). State stays deterministic —
      // the cycle returns the table to the same row set; vacuum
      // bounds versions, tag expiry bounds the refrag-N keys.
      val third = events.filter(pmod(col("event_id"), lit(3)) === 2 &&
        col("date").endsWith("-01"))
      delete(spark, tmp, third.select("event_id"), "event_id")
      append(spark, tmp, third, "date",
        Some(s"refrag-${compactEpoch.incrementAndGet()}"))
    }
    compact(spark, tmp, maxFiles = 1)
    val p = Snapshot.pin(spark, tmp)
    val perPart = p.files
      .groupBy(f => f.substring(0, f.indexOf('/')))
      .toSeq
      .map { case (part, fls) =>
        (unescapePart(part.substring(part.indexOf('=') + 1)),
          fls.size.toLong)
      }
    import spark.implicits._
    val filesDf = perPart.toDF("date", "n_files")
    Snapshot.readPin(spark, tmp, p)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"))
      .join(broadcast(filesDf), Seq("date"))
      .orderBy("date")
  }
}
