package graft.sources

import java.net.{URLDecoder, URLEncoder}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned snapshot commits over a partitioned parquet layout — the
  * table-format layer behind every graft table mutation. It closes the
  * reader-visible gap of per-directory rename swaps (a reader
  * overlapping a multi-partition mutation could see partition A new
  * and partition B old). The standard remedy, reduced to its core (the
  * same design center as Iceberg/Delta):
  *
  *  - **Data files are immutable.** A mutation never renames or
  *    rewrites a live file; it writes NEW files (under per-version
  *    subdirs of the partition dirs) and leaves the old ones in
  *    place until vacuum.
  *  - **One manifest per version** (`_graft_snapshots/vNNNNNNNN
  *    .manifest`) lists the COMPLETE live file set of that version
  *    and declares the table's schema (a `#schema=` line). Readers
  *    and writers scan under that schema ([[scan]]) and never infer
  *    one from a footer: [[convert]] and a bootstrap
  *    [[SnapshotOps.append]] record it, every later commit carries it
  *    forward, and [[commit]] cannot write a root without one.
  *  - **Commit is one atomic rename**: the next manifest is staged as
  *    a hidden tmp file and renamed into its final name — the rename
  *    IS the commit point. Rename-without-overwrite is atomic on
  *    HDFS and POSIX; a concurrent second writer's rename fails and
  *    surfaces as an error, never as corruption.
  *  - **Readers pin a version once** ([[pin]]): resolve the highest
  *    committed manifest, then read exactly those files. A reader
  *    overlapping any number of in-flight mutations sees all-old or
  *    all-new — never a mix — because nothing it references is
  *    mutated and the file set it scans came from one manifest.
  *    [[vacuum]] retention (default [[KeepVersions]]) bounds how long
  *    a pinned reader may straggle, exactly like any table format's
  *    snapshot-expiry policy.
  *
  * Every writer — table mutations, metadata commits, WAP finalizers
  * and IVF index segments — commits through ONE write transaction,
  * [[transact]]: it recovers, pins, runs the writer's plan, collects
  * the maintained stats of the staged files, applies the one tag
  * policy ([[expireTags]]), commits and vacuums. Crash windows, all
  * recoverable ([[recoverMeta]] runs at the start of every
  * transaction): data files staged but manifest never committed →
  * orphans invisible to every reader, deleted by the next [[vacuum]];
  * tmp manifest left behind → deleted; died right after the rename →
  * the commit simply happened. Concurrent writers serialize
  * optimistically: the atomic rename turns a race into a
  * [[CommitConflict]] for the loser — never a torn table — and the
  * transaction re-runs the losing plan against the winner's version.
  *
  * Snapshot-managed tables carry the partition column IN the data
  * (as a string) in addition to the directory name — [[convert]]
  * re-materializes a `partitionBy` layout once, the migration cost
  * every table format charges — so snapshot reads are a plain
  * explicit-file-list parquet scan with no partition-inference games.
  *
  * 100 TB shape: the manifest is SHARDED BY PARTITION — the version
  * root (`vNNNNNNNN.manifest`) holds one pointer line per partition
  * into immutable per-partition shard files
  * (`_graft_snapshots/shards/…`), and a commit re-writes shards ONLY
  * for partitions whose file set changed, re-pointing the rest at the
  * previous version's shards. So commit IO is O(churn + partitions),
  * not O(files): a million-file table with a thousand partitions
  * commits a ~100 KB root plus the touched partitions' shards, where
  * the earlier flat manifest rewrote ~100 MB per commit. Readers
  * resolve the root once and can PRUNE shard reads to the partitions
  * a query touches (the manifest-level analogue of partition
  * pruning).
  * Mutations stay partition-local copy-on-write; commit cost is
  * O(churn), not O(data); readers plan from the manifest without
  * listing a single directory.
  */
object Snapshot {

  val MetaDir = "_graft_snapshots"

  /** Versions retained by [[vacuum]] (current + stragglers). */
  val KeepVersions = 2

  private def manifestName(v: Long) = f"v$v%08d.manifest"
  private val ManifestRe = "^v(\\d{8})\\.manifest$".r

  private def metaPath(root: Path) = new Path(root, MetaDir)

  /** All committed versions, ascending. */
  def versions(fs: FileSystem, root: Path): Seq[Long] = {
    val meta = metaPath(root)
    if (!fs.exists(meta)) Seq.empty
    else fs.listStatus(meta).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(d) => Some(d.toLong)
        case _ => None
      }
    }.sorted
  }

  def currentVersion(fs: FileSystem, root: Path): Option[Long] =
    versions(fs, root).lastOption

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  private def manifestLines(fs: FileSystem, root: Path, v: Long): Seq[String] =
    readLines(fs, new Path(metaPath(root), manifestName(v)))

  private def shardsDir(root: Path) = new Path(metaPath(root), "shards")

  /** Root-line format: `#schema=` = the declared schema; any other
    * `#…` = tag; `>\t<part>\t<shard>` = pointer to an immutable
    * per-partition shard file under `shards/`.
    *
    * Shard-line format: the relative file path, optionally followed by
    * tab-separated per-column zone-map fields (`col:type:min:max`,
    * values URL-encoded — see [[SnapshotStats]]). [[filesOf]] and
    * every path consumer strip the suffix; only the skipping planner
    * parses it.
    */
  private def isShardRef(l: String) = l.startsWith(">")

  private val SchemaTag = "#schema="

  private def encodeSchema(schema: StructType): String =
    SchemaTag + URLEncoder.encode(schema.json, "UTF-8")

  private def schemaIn(lines: Seq[String], root: Path, v: Long): StructType =
    lines.find(_.startsWith(SchemaTag)).map { l =>
      DataType.fromJson(URLDecoder.decode(l.stripPrefix(SchemaTag), "UTF-8"))
        .asInstanceOf[StructType]
    }.getOrElse(throw new IllegalStateException(
      s"v$v of $root declares no schema"))

  /** The declared schema of a committed version. */
  def schemaOf(fs: FileSystem, root: Path, v: Long): StructType =
    schemaIn(manifestLines(fs, root, v), root, v)

  private[sources] def pathOfLine(l: String): String =
    l.takeWhile(_ != '\t')

  private def readShard(fs: FileSystem, root: Path,
                        shard: String): Seq[String] =
    readLines(fs, new Path(shardsDir(root), shard))

  /** The (partition, shard-file) pointers of a version's root. This
    * is the planning surface a reader prunes on: a query touching k
    * partitions resolves the root (O(partitions)) and reads exactly k
    * shard files.
    */
  private[graft] def shardRefsOf(fs: FileSystem, root: Path,
                                 v: Long): Seq[(String, String)] =
    manifestLines(fs, root, v).filter(isShardRef).map { l =>
      val parts = l.split('\t')
      (parts(1), parts(2))
    }

  /** The file list (relative paths) of one committed version: the
    * contents of every referenced shard, in root-line order
    * (partitions sorted at commit time, file order stable within a
    * partition). Zone-map suffixes are stripped — use
    * [[linesOf]] for the raw stats-bearing lines.
    */
  def filesOf(fs: FileSystem, root: Path, v: Long): Seq[String] =
    linesOf(fs, root, v).map(pathOfLine)

  /** The raw manifest file lines of one committed version — each a
    * relative path plus any zone-map suffix. The skipping planner
    * ([[SnapshotStats]]) consumes these; everything else goes through
    * [[filesOf]].
    */
  def linesOf(fs: FileSystem, root: Path, v: Long): Seq[String] =
    shardLines(fs, root, manifestLines(fs, root, v))

  private def shardLines(fs: FileSystem, root: Path,
                         rootLines: Seq[String]): Seq[String] =
    rootLines.filter(isShardRef)
      .flatMap(l => readShard(fs, root, l.split('\t')(2)))

  /** Shard-pruned file list: only partitions satisfying `keep` are
    * resolved — O(root + selected shards) manifest IO, the
    * manifest-level partition pruning a 100 TB reader plans with.
    */
  def filesOfPruned(fs: FileSystem, root: Path, v: Long)
                   (keep: String => Boolean): Seq[String] =
    shardRefsOf(fs, root, v).flatMap { case (part, shard) =>
      if (keep(part)) readShard(fs, root, shard).map(pathOfLine)
      else Seq.empty
    }

  private def tagsIn(lines: Seq[String]): Seq[String] =
    lines.filter(l => l.startsWith("#") && !l.startsWith(SchemaTag))

  /** The tags a version carries: its `#`-prefixed root lines — the
    * ingest batch ids [[SnapshotOps.append]] records (see
    * [[TagKeepVersions]]), the maintenance columns of
    * [[SnapshotStats]], the stage ids of [[SnapshotWap]]. The schema
    * line is not a tag ([[schemaOf]]); [[commit]] writes it from its
    * own argument.
    */
  def tagsOf(fs: FileSystem, root: Path, v: Long): Seq[String] =
    tagsIn(manifestLines(fs, root, v))

  /** A pinned snapshot: resolved ONCE; every read against it scans
    * exactly these files, under this schema, regardless of later
    * commits. `tags` are the version's [[tagsOf]].
    */
  case class Pin(version: Long, files: Seq[String], schema: StructType,
                 tags: Seq[String] = Nil)

  /** Version, files, schema and tags of committed version `v`, from
    * one read of its root.
    */
  private[sources] def pinOf(fs: FileSystem, root: Path, v: Long): Pin = {
    val lines = manifestLines(fs, root, v)
    Pin(v, shardLines(fs, root, lines).map(pathOfLine), schemaIn(lines, root, v),
      tagsIn(lines))
  }

  private def unmanaged(dir: String) = new IllegalStateException(
    s"$dir is not snapshot-managed (no $MetaDir manifest); run convert")

  /** The file system, root and current version of snapshot table
    * `dir`; fails loudly on a directory no commit has reached.
    */
  private[sources] def current(spark: SparkSession,
                               dir: String): (FileSystem, Path, Long) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, root, currentVersion(fs, root).getOrElse(throw unmanaged(dir)))
  }

  def pin(spark: SparkSession, dir: String): Pin = {
    val (fs, root, v) = current(spark, dir)
    pinOf(fs, root, v)
  }

  /** Pin an EXPLICIT committed version — the time-travel primitive:
    * any version [[vacuum]] still retains answers exactly as it did
    * when it was current, because its data files are immutable and
    * its manifest is the complete scan set. A version outside the
    * retention window fails loudly (its manifest is gone), never
    * silently serves a partially-reaped file set.
    */
  def pinAt(spark: SparkSession, dir: String, version: Long): Pin = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val vs = versions(fs, root)
    require(vs.contains(version),
      s"version $version of $dir is not committed or has been vacuumed " +
        s"(live: ${vs.mkString(", ")})")
    pinOf(fs, root, version)
  }

  /** Time-travel read: the table exactly as of `version`. */
  def readAt(spark: SparkSession, dir: String, version: Long): DataFrame =
    readPin(spark, dir, pinAt(spark, dir, version))

  /** The one scan of snapshot data files: `files` (relative to `dir`)
    * under the declared `schema`. No footer is read at planning time,
    * a file that predates a declared column yields NULL for it, and an
    * empty file list reads as an empty frame of that schema. Every
    * pinned read, mutation, compaction, clustering, change set, stats
    * job and skipping read scans through here.
    */
  def scan(spark: SparkSession, dir: String, schema: StructType,
           files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(files.map(f => s"$dir/$f"): _*)

  /** Read the pinned file set under the pin's schema. An empty table
    * (possible after a delete) reads as an empty frame.
    */
  def readPin(spark: SparkSession, dir: String, p: Pin): DataFrame =
    scan(spark, dir, p.schema, p.files)

  /** Snapshot-isolated read: resolve the current version once, scan
    * exactly its files.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    readPin(spark, dir, pin(spark, dir))

  /** Stable per-partition grouping: partitions sorted, file order
    * preserved within each — so re-committing an already-grouped list
    * round-trips to the identical sequence.
    */
  private def groupByPart(files: Seq[String]): Seq[(String, Seq[String])] =
    files.groupBy(f => f.takeWhile(_ != '/')).toSeq.sortBy(_._1)

  /** Commit `files` (relative paths — the complete live set of the
    * new version) as `base + 1`, declaring `schema`. Returns the
    * committed version. The primitive under [[transact]]; only
    * [[convert]] and `tools.ManifestBench` call it directly.
    *
    * The file list is written SHARDED: one immutable shard file per
    * partition under `shards/` (writer-unique names — concurrent
    * writers can never collide), one `>`-pointer line per partition
    * in the version root. When `baseFiles` (the base version's pinned
    * list, which every mutation already holds) is supplied, shards of
    * UNCHANGED partitions are not rewritten — their pointers are
    * copied from the base root — so commit IO is O(churn +
    * partitions) instead of O(files). The root's atomic
    * rename-without-overwrite remains the ONLY commit point: shards
    * are invisible until a root references them, a dead writer's
    * shards are unreferenced orphans for [[vacuum]], and a lost
    * rename race still surfaces as [[CommitConflict]], never as
    * corruption. The staged tmp root is hidden (dot-prefixed) so a
    * concurrent [[versions]] listing never sees it.
    *
    * `stats` maps relative file paths to encoded zone-map suffixes
    * ([[SnapshotStats]]); a file without an entry CARRIES FORWARD its
    * base shard line (reused shards keep their stats for free; a
    * rewritten partition's base shard is re-read — O(churn
    * partitions), never O(files) — so stats survive every mutation
    * without the mutation recomputing them for untouched files).
    */
  def commit(fs: FileSystem, root: Path, files: Seq[String],
             base: Long, schema: StructType, tags: Seq[String] = Nil,
             baseFiles: Option[Seq[String]] = None,
             stats: Map[String, String] = Map.empty,
             refsFrom: Option[Long] = None): Long = {
    val v = base + 1
    val meta = metaPath(root)
    fs.mkdirs(meta)
    val sdir = shardsDir(root)
    fs.mkdirs(sdir)
    val baseByPart: Map[String, Seq[String]] =
      baseFiles.map(groupByPart(_).toMap).getOrElse(Map.empty)
    // refsFrom: which committed version's shard pointers carry-forward
    // resolves against — `base` (the default, every in-place mutation)
    // or an EARLIER version whose exact file set is being re-committed
    // (RESTORE: baseFiles must describe the same version the shards
    // belong to, or partitions rewritten since would silently reuse
    // the WRONG shard)
    val refsV = refsFrom.getOrElse(base)
    val baseRefs: Map[String, String] =
      if (baseFiles.isDefined && refsV > 0)
        shardRefsOf(fs, root, refsV).toMap
      else Map.empty
    val token = writerToken()
    val refLines = groupByPart(files).map { case (part, fls) =>
      val reusable = baseRefs.get(part)
        .filter(_ => baseByPart.get(part).contains(fls) &&
          !fls.exists(stats.contains))
      val shard = reusable.getOrElse {
        // stats precedence: fresh entry > base shard's line (stats
        // carried forward for files that persist) > bare path
        val baseLines: Map[String, String] = baseRefs.get(part)
          .map(s => readShard(fs, root, s)
            .map(l => pathOfLine(l) -> l).toMap)
          .getOrElse(Map.empty)
        val lines = fls.map { f =>
          stats.get(f).map(s => s"$f\t$s")
            .orElse(baseLines.get(f))
            .getOrElse(f)
        }
        val name = f"p${math.abs(part.hashCode)}%08x_v$v%08d_$token.shard"
        val out = fs.create(new Path(sdir, name), false)
        try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
        name
      }
      s">\t$part\t$shard"
    }
    val tmp = new Path(meta,
      s".tmp.${manifestName(v)}.${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    val lines = (encodeSchema(schema) +: tags) ++ refLines
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val fin = new Path(meta, manifestName(v))
    if (!fs.rename(tmp, fin)) {
      fs.delete(tmp, false)
      throw new CommitConflict(v)
    }
    v
  }

  /** Thrown when the commit rename loses the race to a concurrent
    * writer (the target version already exists). The table is NOT
    * corrupted — the loser's staged files are unreferenced orphans —
    * and the write can be re-run against a fresh pin ([[transact]]
    * does, bounded).
    */
  final class CommitConflict(v: Long) extends java.io.IOException(
    s"snapshot commit of v$v lost to a concurrent writer")

  /** Drop tmp manifests a dead writer left behind. Orphan DATA files
    * (staged, never committed) are invisible to readers and reaped by
    * [[vacuum]].
    */
  def recoverMeta(fs: FileSystem, root: Path): Unit = {
    val meta = metaPath(root)
    if (fs.exists(meta))
      fs.listStatus(meta).filter(_.getPath.getName.startsWith(".tmp."))
        .foreach(st => fs.delete(st.getPath, false))
  }

  /** A writer-unique name fragment (12 hex digits). Every staged or
    * placed name that two racing writers could otherwise share carries
    * one: shard files, stage dirs, placement dirs, index segments.
    */
  private[graft] def writerToken(): String =
    java.util.UUID.randomUUID.toString.replace("-", "").take(12)

  // ---- the tag policy every commit of [[transact]] applies ----

  /** Idempotency tags are carried forward for this many commits after
    * the commit that introduced them, then dropped — so the root's tag
    * section is bounded at O([[TagKeepVersions]] × tags/commit) under
    * continuous micro-batch ingest instead of growing by one line per
    * batch forever. This window, not the vacuum retention, is the
    * replay-protection bound: a batch re-delivered within
    * [[TagKeepVersions]] commits of its original landing is a no-op; a
    * replay older than that re-appends. Streaming checkpoints make
    * replays arrive within a few commits in practice, so a window of
    * 16 is generous. Every transaction expires the tags it commits —
    * restores, WAP finalizers and metadata commits included — so no
    * writer carries a key past its window.
    */
  private[sources] val TagKeepVersions = 16L

  /** `#appended@VVVVVVVV=key` — the tag line format carrying the
    * version that introduced the key, so expiry needs no side state.
    */
  private[sources] def mkTag(version: Long, key: String): String =
    f"#appended@$version%08d=$key"

  private val TagRe = "^#appended@(\\d+)=(.*)$".r

  private[sources] def tagKeyOf(line: String): Option[String] = line match {
    case TagRe(_, k) => Some(k)
    case _ => None
  }

  /** Drop tags introduced more than [[TagKeepVersions]] commits before
    * `newVersion`; other tag kinds pass unchanged.
    */
  private[sources] def expireTags(tags: Seq[String],
                                  newVersion: Long): Seq[String] =
    tags.filter {
      case TagRe(v, _) => v.toLong > newVersion - TagKeepVersions
      case _ => true
    }

  // ---- the write transaction ----

  /** Test seam: fired in every write transaction after the pin and
    * before the plan runs — the window in which a concurrent winner
    * can stage AND commit the same next version. SnapshotSpec runs a
    * full competing write here.
    */
  @volatile private[sources] var beforeStage: () => Unit = () => ()

  /** Test seam: fired in every write transaction immediately before
    * its commit. SnapshotSpec injects a conflicting winner here to
    * force the conflict re-run deterministically.
    */
  @volatile private[sources] var beforeCommit: () => Unit = () => ()

  /** Attempts a transaction makes before a lost commit race reaches
    * its caller as [[CommitConflict]].
    */
  private val CommitAttempts = 3

  /** What a transaction's plan commits on top of its pin.
    *
    *  - `files`: the complete live file set of the new version;
    *  - `staged`: the files the plan placed — the maintained stats
    *    (`#statscols`/`#bloomcols` of the new version) are collected
    *    for these, and for no other file;
    *  - `schema`: a newly declared schema (evolve, a bootstrap);
    *    otherwise the base's carries forward;
    *  - `addTags`/`dropTags`: edits to the base's tags;
    *  - `from`: an earlier retained version this write re-commits
    *    (restore, WAP reject). Its tags, schema and shard pointers are
    *    the base instead of the pin's;
    *  - `bloomInlineMax`: the inline budget of the blooms collected.
    */
  final case class Write(files: Seq[String], staged: Seq[String] = Nil,
                         schema: Option[StructType] = None,
                         addTags: Seq[String] = Nil,
                         dropTags: String => Boolean = _ => false,
                         from: Option[Pin] = None,
                         bloomInlineMax: Int = SnapshotStats.BloomInlineMaxBytes)

  /** The one write transaction of the snapshot layer: every commit
    * but [[convert]]'s one-time migration goes through here. In order:
    * drop dead writers' tmp manifests ([[recoverMeta]]), pin the
    * current version, fire [[beforeStage]], run `plan` against the
    * pin, collect the maintained stats of the files it staged, fire
    * [[beforeCommit]], [[commit]] as the pin's version + 1 with the
    * base's tags edited and expired ([[expireTags]]), [[vacuum]]. A
    * plan that returns no write commits nothing. A [[CommitConflict]]
    * re-runs the whole sequence from a fresh pin, up to
    * [[CommitAttempts]] times: the loser's staged files are
    * unreferenced orphans the next vacuum reaps, and the plan
    * re-validates against the winner's version.
    *
    * A directory no commit has reached pins as an empty v0 when
    * `bootstrap` is set (an append or an index build creates the
    * table; its write declares the schema), and fails loudly
    * otherwise. Returns the plan's result; a plan reports the
    * committed version as its pin's version + 1.
    */
  def transact[T](spark: SparkSession, dir: String, bootstrap: Boolean = false)
                 (plan: Pin => (Option[Write], T)): T = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def attempt(): T = {
      recoverMeta(fs, root)
      val p = currentVersion(fs, root).map(pinOf(fs, root, _)).getOrElse {
        if (!bootstrap) throw unmanaged(dir)
        Pin(0L, Nil, new StructType())
      }
      beforeStage()
      val (write, result) = plan(p)
      write.foreach { w =>
        val base = w.from.getOrElse(p)
        val schema = w.schema.getOrElse(base.schema)
        val tags = expireTags(base.tags.filterNot(w.dropTags) ++ w.addTags,
          p.version + 1)
        val stats = SnapshotStats.collectStats(spark, dir, w.staged, schema,
          SnapshotStats.statsColsOf(tags), SnapshotStats.bloomColsOf(tags),
          w.bloomInlineMax)
        beforeCommit()
        commit(fs, root, w.files, p.version, schema, tags,
          baseFiles = Some(base.files), stats = stats,
          refsFrom = w.from.map(_.version))
        vacuum(fs, root)
      }
      result
    }
    var left = CommitAttempts
    while (true) {
      try return attempt()
      catch { case _: CommitConflict if left > 1 => left -= 1 }
    }
    sys.error("unreachable")
  }

  /** A hidden stage dir younger than this is presumed to belong to a
    * LIVE concurrent writer mid-stage and is skipped by [[vacuum]];
    * older ones are dead writers' orphans and are reaped whole. The
    * same grace real table formats give in-flight write attempts —
    * without it, writer A's post-commit vacuum could delete writer B's
    * staged-but-not-yet-placed files out from under it.
    */
  val StageGraceMs: Long = 6L * 3600 * 1000

  /** Expire old versions: keep the newest `keep` manifests, delete
    * every data file not referenced by a kept manifest (this also
    * reaps never-committed orphans), then delete the expired
    * manifests. Directories emptied by the sweep are removed. Hidden
    * (dot-prefixed) top-level stage dirs are reaped only past
    * [[StageGraceMs]] — they may belong to a live writer.
    */
  def vacuum(fs: FileSystem, root: Path, keep: Int = KeepVersions,
             stageGraceMs: Long = StageGraceMs): Unit = {
    val vs = versions(fs, root)
    if (vs.isEmpty) return
    val kept = vs.takeRight(keep)
    val referenced: Set[String] =
      kept.flatMap(v => filesOf(fs, root, v)).toSet
    val rootUri = fs.makeQualified(root).toUri.getPath
    // returns "no live content remains": unreferenced data files are
    // deleted; write-marker droppings (_SUCCESS, .…crc) don't count
    // as live and vanish with their dir's recursive delete
    def sweep(dir: Path): Boolean = {
      if (dir.getName == MetaDir) return false
      var live = false
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (sweep(st.getPath)) fs.delete(st.getPath, true)
          else live = true
        } else if (name.endsWith(".parquet") && !name.startsWith(".")) {
          val rel = st.getPath.toUri.getPath
            .stripPrefix(rootUri).stripPrefix("/")
          if (referenced(rel)) live = true
          else fs.delete(st.getPath, false)
        } else if (!name.startsWith("_") && !name.startsWith("."))
          live = true
      }
      !live
    }
    val now = System.currentTimeMillis()
    fs.listStatus(root).filter(_.isDirectory)
      .filter(_.getPath.getName != MetaDir)
      .foreach { st =>
        if (st.getPath.getName.startsWith(".")) {
          // in-flight stage dir of a concurrent writer — reap only
          // once it is old enough to be a dead writer's orphan
          if (now - st.getModificationTime > stageGraceMs)
            fs.delete(st.getPath, true)
        } else if (sweep(st.getPath)) fs.delete(st.getPath, true)
      }
    vs.dropRight(keep).foreach { v =>
      fs.delete(new Path(metaPath(root), manifestName(v)), false)
    }
    // manifest shards referenced by no kept root are expired-version
    // metadata (or a dead writer's never-committed shards) — reaped
    // under the same modtime grace as stage dirs, because a LIVE
    // writer's shards are legitimately unreferenced until its root
    // rename lands
    val sdir = shardsDir(root)
    if (fs.exists(sdir)) {
      val keptShards = kept.flatMap(v => shardRefsOf(fs, root, v))
        .map(_._2).toSet
      fs.listStatus(sdir).filter(_.isFile).foreach { st =>
        if (!keptShards(st.getPath.getName) &&
            now - st.getModificationTime > stageGraceMs)
          fs.delete(st.getPath, false)
      }
    }
    // bloom SIDECARS referenced by no kept shard line are expired (or
    // never-committed) filter files — same modtime grace as shards,
    // for the same live-writer reason. Content addressing makes the
    // name test exact: a name appears in a shard line iff that
    // version references those bytes.
    val bdir = new Path(metaPath(root), "blooms")
    if (fs.exists(bdir)) {
      val keptNames: Set[String] = kept.flatMap(v =>
        linesOf(fs, root, v).flatMap(l =>
          SnapshotStats.SidecarRe.findAllMatchIn(l).map(_.group(1)))).toSet
      fs.listStatus(bdir).filter(_.isFile).foreach { st =>
        if (!keptNames(st.getPath.getName) &&
            now - st.getModificationTime > stageGraceMs)
          fs.delete(st.getPath, false)
      }
    }
  }

  /** One-time migration of a `partitionBy` layout into snapshot
    * management: re-materialize the rows WITH the partition column as
    * a string data column (recovered from the directory name) under
    * `<part>/u1_0/`, commit the v1 manifest, and drop the legacy
    * top-level part files. Cost: one full rewrite — what any
    * table-format migration charges — staged as ONE `partitionBy`
    * write job (per-dir tagged subplans unioned), then one metadata
    * RENAME per partition, NOT a sequential driver-looped write job
    * per partition dir (a 365-partition migration is one job + 365
    * renames, not 365 jobs). v1 declares the schema of one legacy
    * part dir's footer plus the string partition column — the one
    * footer read of the snapshot layer, where a foreign layout enters.
    * Returns v1.
    */
  def convert(spark: SparkSession, dir: String, partCol: String): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(currentVersion(fs, root).isEmpty, s"$dir is already converted")
    val parts = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.contains("=")).sorted.toSeq
    require(parts.nonEmpty, s"$dir has no partition dirs to convert")
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val legacy = scala.collection.mutable.ArrayBuffer.empty[Path]
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    // writer-unique stage + destination names, same reason as
    // SnapshotOps.stageAndPlace: a racing convert must never rename
    // over dirs another writer placed (the loser's commit conflicts
    // and its uniquely-named orphans are vacuum's to reap)
    val token = writerToken()
    val stage = s".snap_convert_stage_$token"
    val sch = spark.read.parquet(new Path(root, parts.head).toString).schema
    val rows = parts.map { part =>
      val value = esc.unescapePathName(part.substring(part.indexOf('=') + 1))
      spark.read.schema(sch).parquet(new Path(root, part).toString)
        .withColumn(partCol, lit(value))
        .withColumn("__snap_part", lit(part))
    }.reduce(_ unionByName _)
    rows.write.mode("overwrite").partitionBy("__snap_part")
      .parquet(s"$dir/$stage")
    parts.foreach { part =>
      val src = new Path(root,
        s"$stage/__snap_part=${esc.escapePathName(part)}")
      if (fs.exists(src))
        files ++= place(fs, root, src, s"$part/u1_$token")
      legacy ++= fs.listStatus(new Path(root, part)).filter(_.isFile)
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath)
    }
    fs.delete(new Path(root, stage), true)
    // as a footer read returns it: Spark writes every field nullable
    val v = commit(fs, root, files.toSeq, 0L,
      rows.drop("__snap_part").schema.toNullable)
    legacy.foreach(p => fs.delete(p, false))
    v
  }

  /** Place a staged directory: rename `staged` to `root/<rel>` in one
    * metadata operation and return the relative paths of the parquet
    * files now under it, sorted. `rel` must carry a writer-unique name,
    * so the rename never lands on a directory another writer placed;
    * nothing is visible to readers until a version references the
    * files. Every staged write of the snapshot layer places through
    * here: table mutations, [[convert]] and the IVF index segments.
    */
  private[graft] def place(fs: FileSystem, root: Path, staged: Path,
                           rel: String): Seq[String] = {
    val dst = new Path(root, rel)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(staged, dst))
      throw new java.io.IOException(s"staged placement failed for $dst")
    // a plain listStatus walk: a recursive listFiles resolves every
    // file's block locations, which a file list does not need
    def under(dir: Path, rel: String): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) under(st.getPath, s"$rel/$name")
        else if (name.endsWith(".parquet") && !name.startsWith(".")) Seq(s"$rel/$name")
        else Nil
      }
    under(dst, rel).sorted
  }

  /** Replace the small text file `p` through a hidden tmp file and one
    * rename: a crash leaves the old content or an ignored tmp file,
    * never a truncated file.
    */
  private[sources] def replaceText(fs: FileSystem, p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp.${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"replace failed for $p")
  }
}
