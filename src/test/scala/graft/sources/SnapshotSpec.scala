package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.SparkSpec

/** Gates for the versioned-snapshot table layer — the properties
  * per-partition directory rename swaps cannot give:
  *
  *  - a reader that PINNED before a multi-partition mutation commits
  *    still reads its complete OLD version afterward (all-old);
  *  - a reader pinning after the commit sees the complete NEW
  *    version (all-new); there is no interleaving in which a reader
  *    mixes versions, because the scan set comes from one manifest
  *    resolved once;
  *  - every crash window (orphan staged data, tmp manifest, death
  *    before/after the commit rename) leaves the table readable at a
  *    committed version and is cleaned by the next mutation/vacuum.
  */
class SnapshotSpec extends SparkSpec {

  private def freshTable(): (String, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val events = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
    events.repartition(col("date"))
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    Snapshot.convert(spark, dir, "date")
    (dir, events)
  }

  private def state(df: DataFrame): Set[(Long, String, String)] =
    df.select(col("event_id"), col("date").cast("string"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("convert preserves content exactly (partition column re-carried " +
       "in data) and legacy part files are retired") {
    val (dir, events) = freshTable()
    assert(state(Snapshot.read(spark, dir)) == state(events))
    // no top-level part files remain under partition dirs
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).filter(_.isDirectory)
      .filterNot(_.getPath.getName == Snapshot.MetaDir).foreach { d =>
        val legacy = fs.listStatus(d.getPath)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        assert(legacy.isEmpty, s"legacy files under ${d.getPath}")
      }
  }

  test("upsert: a reader pinned BEFORE the commit reads all-old after " +
       "it; a pin after reads all-new; file-granular COW only retires " +
       "hit files") {
    val (dir, events) = freshTable()
    val before = Snapshot.pin(spark, dir)
    val updates = events
      .filter(pmod(col("user_id"), lit(89)) === 5)
      .withColumn("event_type", lit("corrected"))
    val inserts = events
      .filter(pmod(col("user_id"), lit(89)) === 7)
      .withColumn("event_id", col("event_id") + lit(1000000000L))
      .withColumn("event_type", lit("inserted"))
    val batch = updates.unionByName(inserts)
    val stats = SnapshotOps.upsert(spark, dir, batch, "event_id", "date")
    assert(stats.version == before.version + 1)
    // all-old: the pre-commit pin still resolves its complete state
    assert(state(Snapshot.readPin(spark, dir, before)) == state(events),
      "pinned reader lost its version after the commit")
    // all-new: a fresh pin sees exactly the merged state
    val bkeys = batch.select("event_id")
    val expect = state(events.join(bkeys, Seq("event_id"), "left_anti")
      .unionByName(batch.select(events.columns.map(col): _*)))
    assert(state(Snapshot.read(spark, dir)) == expect)
    // COW is file-granular: untouched pinned files stay referenced
    val after = Snapshot.pin(spark, dir)
    val kept = before.files.toSet.intersect(after.files.toSet)
    assert(stats.retiredFiles == before.files.size - kept.size)
    assert(kept.nonEmpty, "every file rewritten — planning swept the table")
    // a batch row whose partition value changed MOVES: it leaves its
    // old partition and lands in one the table did not have yet
    val one = events.orderBy("event_id").limit(1)
    val key = one.head().getAs[Long]("event_id")
    val oldDir = "date=" + one.select(col("date").cast("string")).head().getString(0)
    val moved = SnapshotOps.upsert(spark, dir,
      one.withColumn("event_type", lit("moved"))
        .withColumn("date", lit("2031-01-01")), "event_id", "date")
    assert(moved.partitions.toSet == Set(oldDir, "date=2031-01-01"),
      moved.toString)
    val rows = Snapshot.read(spark, dir).filter(col("event_id") === key)
      .select(col("date"), col("event_type")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("2031-01-01", "moved")))
  }

  test("delete erases keys; compact folds small files; both commit " +
       "one manifest and reads stay consistent throughout") {
    val (dir, events) = freshTable()
    val doomed = events.filter(pmod(col("user_id"), lit(97)) === 3)
      .select("event_id")
    val pre = Snapshot.pin(spark, dir)
    val del = SnapshotOps.delete(spark, dir, doomed, "event_id")
    assert(del.version == pre.version + 1)
    val expect = state(events.join(doomed, Seq("event_id"), "left_anti"))
    assert(state(Snapshot.read(spark, dir)) == expect)
    // fragment a partition: three tiny upserts land three file sets
    val fragRow = events.orderBy("event_id").limit(1).cache()
    val fragDate = fragRow.select(col("date").cast("string"))
      .head().getString(0)
    (0 until 3).foreach { i =>
      val frag = fragRow
        .withColumn("event_id", lit(5000000000L + i))
        .withColumn("event_type", lit("frag"))
      SnapshotOps.upsert(spark, dir, frag, "event_id", "date")
    }
    val fragged = Snapshot.pin(spark, dir)
    val comp = SnapshotOps.compact(spark, dir, maxFiles = 1)
    assert(comp.version == fragged.version + 1)
    assert(comp.retiredFiles > comp.newFiles)
    val got = state(Snapshot.read(spark, dir))
    val want = expect ++ (0 until 3).map { i =>
      (5000000000L + i, fragDate, "frag")
    }
    assert(got == want)
    fragRow.unpersist()
  }

  test("crash windows: orphan staged data and tmp manifests never " +
       "surface to readers and are reaped; a completed rename IS the " +
       "commit") {
    val (dir, events) = freshTable()
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = Snapshot.pin(spark, dir)
    // (a) writer died after staging data, before any manifest: write
    // an orphan subdir into a partition
    val somePart = v1.files.head.substring(0, v1.files.head.indexOf('/'))
    events.limit(5).withColumn("date", col("date").cast("string"))
      .write.parquet(s"$dir/$somePart/u99_0")
    // (b) and a tmp manifest
    val meta = new Path(root, Snapshot.MetaDir)
    val tmp = new Path(meta, ".tmp.v00000099.manifest.deadbeef")
    val out = fs.create(tmp, false); out.write("junk\n".getBytes); out.close()
    // readers see only v1, exactly
    assert(Snapshot.currentVersion(fs, root).contains(v1.version))
    assert(state(Snapshot.read(spark, dir)) == state(events))
    // the next mutation recovers both: tmp manifest dropped, orphans
    // reaped by its vacuum
    SnapshotOps.delete(spark, dir,
      events.limit(1).select("event_id"), "event_id")
    assert(!fs.exists(tmp))
    Snapshot.vacuum(fs, root, keep = 1)
    assert(!fs.exists(new Path(root, s"$somePart/u99_0")),
      "orphan staged data survived vacuum")
    // (c) a completed manifest rename is a commit: hand-write v+1
    // listing a strict subset (drop one file) — readers follow it
    val cur = Snapshot.pin(spark, dir)
    val v = Snapshot.commit(fs, root, cur.files.tail, cur.version, cur.schema)
    assert(Snapshot.currentVersion(fs, root).contains(v))
    assert(Snapshot.pin(spark, dir).files == cur.files.tail)
  }

  test("optimistic concurrency: a mutation that loses the commit race " +
       "re-plans against the winner's version; both effects land") {
    val (dir, events) = freshTable()
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = Snapshot.pin(spark, dir)
    // the winner: between the victim's pin and its commit, another
    // writer lands v2 dropping the first file entirely — injected via
    // the commit seam so the race is deterministic
    var fired = false
    Snapshot.beforeCommit = () => if (!fired) {
      fired = true
      val cur = Snapshot.pin(spark, dir)
      Snapshot.commit(fs, root, cur.files.tail, cur.version, cur.schema)
    }
    try {
      // capture the to-be-dropped file's keys BEFORE mutating (the
      // victim's post-commit vacuum reaps the unreferenced file)
      import spark.implicits._
      val droppedIds = spark.read.parquet(s"$dir/${v1.files.head}")
        .select("event_id").as[Long].collect().toSeq.toDF("event_id")
      val doomed = events.filter(pmod(col("user_id"), lit(101)) === 7)
        .select("event_id")
      val del = SnapshotOps.delete(spark, dir, doomed, "event_id")
      assert(fired)
      // the victim lost v2 and landed v3 on retry
      assert(del.version == v1.version + 2)
      // final state = the WINNER's file set minus the victim's keys:
      // proof the retry re-planned against v2, not just re-renamed
      val expect = state(events
        .join(droppedIds, Seq("event_id"), "left_anti")
        .join(doomed, Seq("event_id"), "left_anti"))
      assert(state(Snapshot.read(spark, dir)) == expect)
      // metadata commits lose the same race the same way: each re-runs
      // from the winner's version, lands on top of it, keeps its drop
      // and carries its own effect
      def raced(victim: => Long): Snapshot.Pin = {
        val before = Snapshot.pin(spark, dir)
        fired = false
        val v = victim
        assert(fired, "the commit seam never fired on the victim's path")
        assert(v == before.version + 2, s"victim landed at v$v")
        val now = Snapshot.pin(spark, dir)
        assert(now.version == v)
        assert(!now.files.contains(before.files.head),
          "the winner's dropped file came back")
        now
      }
      val statsified = raced(SnapshotStats.statsify(spark, dir, Seq("user_id")))
      val lines = Snapshot.linesOf(fs, root, statsified.version)
      assert(lines.nonEmpty && lines.forall(_.contains("\tuser_id:")),
        "a live file lacks its zone map")
      val evolved = raced(SnapshotSchema.evolve(spark, dir,
        Seq(StructField("quality_bp", LongType))))
      assert(evolved.schema.fieldNames.contains("quality_bp"))
    } finally Snapshot.beforeCommit = () => ()
  }

  test("two-writer staging race: a loser that staged data files can " +
       "never clobber the winner's placed or committed files; the " +
       "retry lands both effects and vacuum reaps only true orphans") {
    val (dir, events) = freshTable()
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = Snapshot.pin(spark, dir)
    // the winner: fires in the victim's pin→stage window and runs a
    // FULL competing mutation (stages its own data files, commits v2)
    // — the interleaving in which a deterministic staging destination
    // would let the victim delete or rename over the winner's files
    var fired = false
    val corrections = events
      .filter(pmod(col("user_id"), lit(89)) === 5)
      .withColumn("event_type", lit("corrected"))
    Snapshot.beforeStage = () => if (!fired) {
      fired = true
      SnapshotOps.upsert(spark, dir, corrections, "event_id", "date")
    }
    try {
      val doomed = events.filter(pmod(col("user_id"), lit(101)) === 7)
        .select("event_id")
      val del = SnapshotOps.delete(spark, dir, doomed, "event_id")
      assert(fired)
      assert(del.version == v1.version + 2, "victim did not lose then retry")
      // the winner's committed version stays byte-intact: every file
      // its manifest references still exists
      val v2files = Snapshot.filesOf(fs, root, v1.version + 1)
      v2files.foreach { f =>
        assert(fs.exists(new Path(root, f)),
          s"winner's committed file $f destroyed by the losing writer")
      }
      // and answers the winner's exact state
      val winnerState = state(events
        .join(corrections.select("event_id"), Seq("event_id"), "left_anti")
        .unionByName(corrections.select(events.columns.map(col): _*)))
      assert(state(Snapshot.readAt(spark, dir, v1.version + 1)) == winnerState)
      // the retry re-planned against the winner: final = both effects
      val expect = state(events
        .join(corrections.select("event_id"), Seq("event_id"), "left_anti")
        .unionByName(corrections.select(events.columns.map(col): _*))
        .join(doomed, Seq("event_id"), "left_anti"))
      assert(state(Snapshot.read(spark, dir)) == expect)
      // no orphan parquet survives outside the retained manifests (the
      // victim's failed-attempt placements were uniquely named and
      // vacuum reaped them)
      val referenced = (v2files ++
        Snapshot.filesOf(fs, root, v1.version + 2)).toSet
      val rootUri = fs.makeQualified(root).toUri.getPath
      def walk(p: Path): Seq[Path] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq(st.getPath)
        }
      walk(root)
        .filter(_.getName.endsWith(".parquet"))
        .filterNot(_.toUri.getPath.contains(s"/${Snapshot.MetaDir}/"))
        .foreach { p =>
          val rel = p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
          assert(referenced(rel), s"unreferenced orphan survived vacuum: $rel")
        }
    } finally Snapshot.beforeStage = () => ()
  }

  test("idempotency tags expire after TagKeepVersions commits and the " +
       "manifest tag section stays bounded under continuous ingest") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_snap_tags").toString
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val row = graft.Tables.events(spark, sf)
      .withColumn("date",
        expr("date(timestamp_micros(ts div 1000))").cast("string"))
      .orderBy("event_id").limit(1).cache()
    val n = (Snapshot.TagKeepVersions + 3).toInt
    (0 until n).foreach { i =>
      SnapshotOps.append(spark, dir,
        row.withColumn("event_id", col("event_id") + lit(i.toLong * 10000)),
        "date", Some(s"batch-$i"))
    }
    val cur = Snapshot.currentVersion(fs, root).get
    val tags = Snapshot.tagsOf(fs, root, cur)
    assert(tags.size <= Snapshot.TagKeepVersions,
      s"tag section grew unboundedly: ${tags.size} lines after $n appends")
    // a key inside the window replays as a no-op
    val recent = SnapshotOps.append(spark, dir,
      row.withColumn("event_id", col("event_id") + lit((n - 1).toLong * 10000)),
      "date", Some(s"batch-${n - 1}"))
    assert(recent.newFiles == 0L, "recent key lost its replay protection")
    // a key older than the window has aged out — the append lands
    // again (the documented bounded-window semantics)
    val ancient = SnapshotOps.append(spark, dir,
      row.withColumn("event_id", col("event_id") + lit(999999L)),
      "date", Some("batch-0"))
    assert(ancient.newFiles > 0L,
      "expired tag still carried — manifest growth is unbounded")
    // a restore re-commits an earlier version's tags through the same
    // expiry: no key older than the window survives in the restored
    // root, and a replay of such a key re-appends
    val Appended = "^#appended@(\\d+)=(.*)$".r
    def keysAt(v: Long): Seq[(Long, String)] =
      Snapshot.tagsOf(fs, root, v).collect { case Appended(at, k) => (at.toLong, k) }
    val last = Snapshot.currentVersion(fs, root).get
    val targetKeys = keysAt(last - 1)
    val restored = SnapshotOps.restore(spark, dir, last - 1)
    val window = restored - Snapshot.TagKeepVersions
    assert(keysAt(restored).forall(_._1 > window),
      s"restore resurrected expired keys: ${keysAt(restored).filter(_._1 <= window)}")
    val expired = targetKeys.filter(_._1 <= window)
    assert(expired.nonEmpty, "the restore target carries no key to expire")
    val replay = SnapshotOps.append(spark, dir,
      row.withColumn("event_id", col("event_id") + lit(888888L)),
      "date", Some(expired.head._2))
    assert(replay.newFiles > 0L, "a key expired by restore still blocks its replay")
    row.unpersist()
  }

  test("changesBetween: an empty 'to' manifest (full-table erasure) " +
       "yields all-removes, and the n column carries net multiplicity " +
       "for duplicated rows") {
    // duplicated rows: the same batch appended twice under different
    // idempotency keys lands every row twice
    val dir = java.nio.file.Files
      .createTempDirectory("graft_snap_mult").toString
    val batch = graft.Tables.events(spark, sf)
      .withColumn("date",
        expr("date(timestamp_micros(ts div 1000))").cast("string"))
      .orderBy("event_id").limit(20).cache()
    val nRows = batch.count()
    SnapshotOps.append(spark, dir, batch, "date", Some("k1"))
    SnapshotOps.append(spark, dir, batch, "date", Some("k2"))
    // v1→v2: each row gained one copy → all adds, n = 1
    val adds = SnapshotOps.changesBetween(spark, dir, 1L, 2L)
    assert(adds.filter(col("op") =!= "add").count() == 0)
    assert(adds.filter(col("n") =!= 1L).count() == 0)
    assert(adds.count() == nRows)
    // erase every key → v3 with an EMPTY manifest; the delta scans
    // under v3's declared schema and emits one remove per distinct
    // row with n = 2 (both copies gone)
    SnapshotOps.delete(spark, dir, batch.select("event_id"), "event_id")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(Snapshot.filesOf(fs, root, 3L).isEmpty, "erasure left files")
    val removes = SnapshotOps.changesBetween(spark, dir, 2L, 3L)
    assert(removes.filter(col("op") =!= "remove").count() == 0)
    assert(removes.count() == nRows)
    assert(removes.filter(col("n") =!= 2L).count() == 0,
      "net multiplicity lost: duplicated rows must carry n = 2")
    batch.unpersist()
  }

  test("follow: the bootstrap cursor is persisted immediately (a slow " +
       "first poller fails loudly instead of silently gapping) and an " +
       "empty cursor file reads as absent") {
    val (dir, events) = freshTable()
    val out = java.nio.file.Files
      .createTempDirectory("graft_follow_boot").toString
    val cursor = s"$out/_cursor"
    val fs = new Path(out).getFileSystem(spark.sessionState.newHadoopConf())
    // bootstrap: nothing pending — but the resolved cursor must be
    // written NOW, not first at the next consumed version
    assert(SnapshotFollow.followChanges(spark, dir, cursor, out) == 0)
    assert(fs.exists(new Path(cursor)),
      "bootstrap did not persist the cursor — a later poll would " +
        "silently re-resolve from live.min")
    // two commits expire v1 (keep=2): the persisted v1 cursor now
    // trips the loud fell-behind require — the silent-gap window the
    // unpersisted bootstrap had
    SnapshotOps.delete(spark, dir,
      events.filter(pmod(col("user_id"), lit(50)) === 1).select("event_id"),
      "event_id")
    SnapshotOps.delete(spark, dir,
      events.filter(pmod(col("user_id"), lit(50)) === 2).select("event_id"),
      "event_id")
    intercept[IllegalArgumentException] {
      SnapshotFollow.followChanges(spark, dir, cursor, out)
    }
    // an empty cursor file (legacy torn write) is treated as absent:
    // the follower re-bootstraps instead of crashing on every poll
    val out2 = fs.create(new Path(cursor), true); out2.close()
    assert(SnapshotFollow.followChanges(spark, dir, cursor, out) == 1)
  }

  test("sharded manifests: a commit rewrites shards only for changed " +
       "partitions, readers can prune shard reads, and vacuum reaps " +
       "expired shards") {
    val (dir, events) = freshTable()
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = Snapshot.pin(spark, dir)
    val refs1 = Snapshot.shardRefsOf(fs, root, v1.version).toMap
    assert(refs1.nonEmpty, "convert committed no shard pointers")
    // mutate ONE partition: delete a single row
    val victim = events.orderBy("event_id").limit(1)
      .select(col("event_id"), col("date").cast("string").as("date")).head()
    import spark.implicits._
    SnapshotOps.delete(spark, dir,
      Seq(victim.getLong(0)).toDF("event_id"), "event_id")
    val v2 = Snapshot.pin(spark, dir)
    val refs2 = Snapshot.shardRefsOf(fs, root, v2.version).toMap
    val touchedPart = refs2.keys.filter(p =>
      refs1.get(p) != refs2.get(p)).toSeq
    assert(touchedPart.nonEmpty, "no shard changed across a mutation")
    // commit IO is O(churn): every untouched partition's pointer is
    // the SAME shard file as the base version's — not a rewrite
    refs2.foreach { case (part, shard) =>
      if (!touchedPart.contains(part))
        assert(refs1.get(part).contains(shard),
          s"unchanged partition $part had its shard rewritten")
    }
    // pruned planning: resolving only the touched partition reads
    // exactly that partition's files
    val pruned = Snapshot.filesOfPruned(fs, root, v2.version)(
      touchedPart.toSet)
    assert(pruned.nonEmpty)
    assert(pruned.toSet ==
      v2.files.filter(f => touchedPart.contains(f.takeWhile(_ != '/'))).toSet)
    // vacuum (grace forced to 0) reaps shards no kept root references,
    // keeps every referenced one
    SnapshotOps.delete(spark, dir,
      events.filter(pmod(col("user_id"), lit(50)) === 9).select("event_id"),
      "event_id")
    Snapshot.vacuum(fs, root, keep = 1, stageGraceMs = 0L)
    val keptRefs = Snapshot.shardRefsOf(fs, root,
      Snapshot.currentVersion(fs, root).get).map(_._2).toSet
    val onDisk = fs.listStatus(
      new Path(new Path(root, Snapshot.MetaDir), "shards"))
      .filter(_.isFile).map(_.getPath.getName).toSet
    assert(onDisk == keptRefs,
      s"shard dir diverged: extra=${(onDisk -- keptRefs).size} " +
        s"missing=${(keptRefs -- onDisk).size}")
  }

  test("time travel: an explicit old version reads its exact " +
       "pre-mutation state after later commits; an expired version " +
       "fails loudly") {
    val (dir, events) = freshTable()
    val v1 = Snapshot.pin(spark, dir).version
    val updates = events
      .filter(pmod(col("user_id"), lit(89)) === 5)
      .withColumn("event_type", lit("corrected"))
    SnapshotOps.upsert(spark, dir, updates, "event_id", "date")
    // v1 resolved AFTER the commit answers the unmutated state
    assert(state(Snapshot.readAt(spark, dir, v1)) == state(events))
    // and the current version answers the mutated one — the two reads
    // really hit different manifests
    assert(state(Snapshot.read(spark, dir)) != state(events))
    // expire v1 (keep=1) → pinAt must throw, never serve a
    // partially-reaped file set
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Snapshot.vacuum(fs, root, keep = 1)
    intercept[IllegalArgumentException] {
      Snapshot.pinAt(spark, dir, v1)
    }
  }

  test("pinned reads plan without a job, and every root declares the " +
       "schema a footer read of its files returns") {
    // convert: v1 declares the schema its rewritten files carry
    val (conv, _) = freshTable()
    val cp = Snapshot.pin(spark, conv)
    assert(cp.schema == spark.read.parquet(s"$conv/${cp.files.head}").schema)
    // a bootstrap append: likewise
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_plan").toString
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val events = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
      .withColumn("ym", date_format(col("date"), "yyyy-MM"))
    SnapshotOps.append(spark, dir, events, "ym", Some("plan-0"))
    val p1 = Snapshot.pin(spark, dir)
    assert(p1.schema == spark.read.parquet(s"$dir/${p1.files.head}").schema)
    SnapshotStats.statsify(spark, dir, Seq("user_id"))
    SnapshotStats.bloomify(spark, dir,
      Seq(SnapshotStats.BloomSpec("event_id", 65536, 3)))
    SnapshotOps.delete(spark, dir,
      events.filter(col("event_id") < 20).select("event_id"), "event_id")
    val v = Snapshot.currentVersion(fs, root).get
    val frames: Seq[(String, () => DataFrame)] = Seq(
      "read" -> (() => Snapshot.read(spark, dir)),
      "readAt" -> (() => Snapshot.readAt(spark, dir, v - 1)),
      "readSkipping" -> (() => SnapshotStats.readSkipping(spark, dir,
        "user_id", Some("0"), Some("100"))),
      "readLookup" -> (() => SnapshotStats.readLookup(spark, dir,
        "event_id", Seq(25L, 30L))),
      "changesBetween" -> (() => SnapshotOps.changesBetween(spark, dir,
        v - 1, v)))
    frames.foreach { case (name, build) =>
      val jobs = jobsOf { build(); () }
      assert(jobs == 0, s"building $name submitted $jobs jobs")
    }
  }

  test("changesBetween: equals the brute-force row diff of the two " +
       "versions and scans ONLY manifest-diff files") {
    val (dir, events) = freshTable()
    val v1 = Snapshot.pin(spark, dir)
    val updates = events
      .filter(pmod(col("user_id"), lit(89)) === 5)
      .withColumn("event_type", lit("corrected"))
    val inserts = events
      .filter(pmod(col("user_id"), lit(89)) === 7)
      .withColumn("event_id", col("event_id") + lit(1000000000L))
      .withColumn("event_type", lit("inserted"))
    SnapshotOps.upsert(spark, dir,
      updates.unionByName(inserts), "event_id", "date")
    val v2 = Snapshot.pin(spark, dir)

    val got = SnapshotOps.changesBetween(spark, dir, v1.version, v2.version)
    def keyed(df: DataFrame): Set[(String, Long, String)] =
      df.select(col("op"), col("event_id"), col("event_type"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .toSet
    // brute force: the signed diff over FULL version reads (every
    // file, not just the manifest diff) — same change set
    val full = Snapshot.readAt(spark, dir, v1.version)
      .withColumn("__w", lit(-1L))
      .unionByName(Snapshot.readAt(spark, dir, v2.version)
        .withColumn("__w", lit(1L)))
      .groupBy(events.columns.map(col).toSeq: _*)
      .agg(sum(col("__w")).as("__net"))
      .filter(col("__net") =!= 0L)
      .withColumn("op",
        when(col("__net") > 0L, lit("add")).otherwise(lit("remove")))
    assert(keyed(got) == keyed(full))
    assert(keyed(got).nonEmpty)
    // IO economy: the incremental plan touched exactly the retired +
    // fresh files, strictly fewer than either manifest's full set
    val diffFiles = (v1.files.filterNot(v2.files.toSet) ++
      v2.files.filterNot(v1.files.toSet)).map(f => s"/$f").toSet
    val scanned = got.inputFiles.toSeq
    assert(scanned.nonEmpty)
    scanned.foreach { f =>
      assert(diffFiles.exists(f.endsWith),
        s"changesBetween scanned a non-diff file: $f")
    }
    assert(scanned.size < v1.files.size + v2.files.size)
  }

  test("follow: the cursor consumer drains each version exactly once, " +
       "a crashed cursor re-emits idempotently, and falling behind " +
       "retention fails loudly") {
    val (dir, events) = freshTable()
    val out = java.nio.file.Files.createTempDirectory("graft_follow_out").toString
    val cursor = s"$out/_cursor"
    val root = new Path(out)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // bootstrap: only v1 exists — nothing to consume
    assert(SnapshotFollow.followChanges(spark, dir, cursor, out) == 0)
    // mutation 1 → one pending version, consumed once; a second call
    // with no new commits is a no-op
    SnapshotOps.delete(spark, dir,
      events.filter(pmod(col("user_id"), lit(50)) === 1).select("event_id"),
      "event_id")
    assert(SnapshotFollow.followChanges(spark, dir, cursor, out) == 1)
    assert(SnapshotFollow.followChanges(spark, dir, cursor, out) == 0)
    val once = SnapshotFollow.changeLog(spark, out)
      .groupBy("version").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    // crash window: the cursor write was lost after the delta landed —
    // the re-run re-emits the SAME delta into the SAME dir (overwrite),
    // so the log is unchanged, not duplicated
    fs.delete(new Path(cursor), false)
    assert(SnapshotFollow.followChanges(spark, dir, cursor, out) == 1)
    val twice = SnapshotFollow.changeLog(spark, out)
      .groupBy("version").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(twice == once, "re-emission after a lost cursor duplicated rows")
    // fell behind retention: two more mutations expire the cursor's
    // version (keep=2) — the follower must refuse, never skip
    SnapshotOps.delete(spark, dir,
      events.filter(pmod(col("user_id"), lit(50)) === 2).select("event_id"),
      "event_id")
    SnapshotOps.delete(spark, dir,
      events.filter(pmod(col("user_id"), lit(50)) === 3).select("event_id"),
      "event_id")
    intercept[IllegalArgumentException] {
      SnapshotFollow.followChanges(spark, dir, cursor, out)
    }
  }

  test("append: bootstraps an empty table, never rewrites live files, " +
       "and an idempotency key makes replays no-ops — including through " +
       "an intervening mutation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_app").toString
    val events = graft.Tables.events(spark, sf)
      .withColumn("date",
        expr("date(timestamp_micros(ts div 1000))").cast("string"))
    val (d1, d2) = {
      val ds = events.select("date").distinct().orderBy("date")
        .collect().map(_.getString(0))
      (ds.head, ds.last)
    }
    val b1 = events.filter(col("date") === d1)
    val b2 = events.filter(col("date") === d2)
    // bootstrap on an unconverted dir
    val a1 = SnapshotOps.append(spark, dir, b1, "date", Some("k1"))
    assert(a1.version == 1L && a1.newFiles > 0)
    val v1 = Snapshot.pin(spark, dir)
    // second append: strictly additive — every v1 file survives
    val a2 = SnapshotOps.append(spark, dir, b2, "date", Some("k2"))
    val v2 = Snapshot.pin(spark, dir)
    assert(a2.retiredFiles == 0L)
    assert(v1.files.forall(v2.files.contains),
      "append rewrote or dropped a live file")
    assert(state(Snapshot.read(spark, dir)) ==
      state(b1.unionByName(b2)))
    // replayed key: no-op at the current version
    val a3 = SnapshotOps.append(spark, dir, b1, "date", Some("k1"))
    assert(a3.version == a2.version && a3.newFiles == 0L)
    // tags survive a non-append mutation (copied forward), so the
    // replay stays a no-op after a delete too
    SnapshotOps.delete(spark, dir,
      b2.limit(1).select("event_id"), "event_id")
    val a4 = SnapshotOps.append(spark, dir, b1, "date", Some("k1"))
    assert(a4.newFiles == 0L, "idempotency tag lost through a mutation")
  }

  test("streaming ingest: micro-batches land as append commits — " +
       "multi-batch run yields multiple versions, final state equals " +
       "the batch source exactly") {
    // multi-file source so maxFilesPerTrigger=1 forces several batches
    val src = java.nio.file.Files.createTempDirectory("graft_ing_src").toString
    graft.Tables.events(spark, sf).repartition(3)
      .write.mode("overwrite").parquet(s"$src/events.parquet")
    val tableDir = java.nio.file.Files
      .createTempDirectory("graft_ing_tab").toString + "/t"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ing_ck").toString
    graft.streaming.StreamOps.ingestSnapshot(
      spark, src, "events", tableDir, ckpt, maxFilesPerTrigger = Some(1))
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val vs = Snapshot.versions(fs, root)
    assert(vs.nonEmpty)
    // batch-equivalence: the drained snapshot equals the batch read
    val expect = graft.Tables.events(spark, src)
      .withColumn("date",
        expr("date(timestamp_micros(ts div 1000))").cast("string"))
    assert(state(Snapshot.read(spark, tableDir)) == state(expect))
    // a re-run over the same checkpoint re-delivers nothing: state
    // and version unchanged
    val before = Snapshot.currentVersion(fs, root)
    graft.streaming.StreamOps.ingestSnapshot(
      spark, src, "events", tableDir, ckpt, maxFilesPerTrigger = Some(1))
    assert(Snapshot.currentVersion(fs, root) == before)
    assert(state(Snapshot.read(spark, tableDir)) == state(expect))
  }

  test("vacuum keeps the retained versions readable and drops the rest") {
    val (dir, events) = freshTable()
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = Snapshot.pin(spark, dir)
    SnapshotOps.delete(spark, dir,
      events.filter(pmod(col("user_id"), lit(50)) === 1).select("event_id"),
      "event_id")
    // retention 2: v1 and v2 both resolvable and readable
    assert(Snapshot.versions(fs, root).size == 2)
    assert(state(Snapshot.readPin(spark, dir, v1)) == state(events))
    SnapshotOps.delete(spark, dir,
      events.filter(pmod(col("user_id"), lit(50)) === 2).select("event_id"),
      "event_id")
    // v1 expired now (keep=2 → v2, v3): manifest gone
    assert(Snapshot.versions(fs, root) ==
      Seq(v1.version + 1, v1.version + 2))
  }

  test("zone maps: statsify records per-file min/max in the shard " +
       "lines, mutations maintain them on churn via the #statscols " +
       "tag, and the skipping read prunes files without changing the " +
       "answer") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapstats")
      .toString
    val events = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
    val m = events.agg(max("user_id")).head().getLong(0)
    val bounds = Seq(0L, m / 4, m / 2, 3 * m / 4, m + 1)
    def batch(i: Int) = events.filter(
      col("user_id") >= bounds(i) && col("user_id") < bounds(i + 1))
    (0 until 3).foreach { i =>
      SnapshotOps.append(spark, dir, batch(i), "date", Some(s"s-$i"))
    }
    SnapshotStats.statsify(spark, dir, Seq("user_id"))
    // the fourth batch lands AFTER statsify — its stats must come
    // from append's maintenance path (the #statscols tag driving the
    // churn-sized stats job), not from statsify
    SnapshotOps.append(spark, dir, batch(3), "date", Some("s-3"))
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def allLines() = Snapshot.linesOf(fs, root,
      Snapshot.currentVersion(fs, root).get)
    def assertAllHaveStats(when: String): Unit = allLines().foreach { l =>
      val (p, st) = SnapshotStats.parseLine(l)
      assert(st.get("user_id").exists(s => s.min.isDefined && s.max.isDefined),
        s"no user_id bounds on $p $when")
    }
    assertAllHaveStats("after statsify + maintained append")
    // pruning engages: a first-quartile range keeps a strict,
    // non-empty subset of the files
    val hi = (m / 5).toString
    val (kept, total) =
      SnapshotStats.skipPlan(spark, dir, "user_id", Some("0"), Some(hi))
    assert(kept.nonEmpty && kept.size < total,
      s"skip plan kept ${kept.size} of $total files")
    def ids(df: DataFrame): Set[Long] =
      df.select("event_id").collect().map(_.getLong(0)).toSet
    def skipped() = SnapshotStats.readSkipping(
      spark, dir, "user_id", Some("0"), Some(hi))
    // planning-only: the skipping read equals the unpruned filtered
    // read exactly
    assert(ids(skipped()) ==
      ids(Snapshot.read(spark, dir).filter(col("user_id") <= m / 5)))
    // an impossible range prunes everything and still returns a
    // schema-correct empty frame
    val none = SnapshotStats.readSkipping(spark, dir, "user_id",
      Some((m + 10).toString), Some((m + 20).toString))
    assert(none.isEmpty && none.columns.contains("event_id"))
    // COW delete rewrites the hit files: rewritten files get FRESH
    // stats (maintenance), untouched files carry theirs forward
    // (commit's base-shard carry-forward / shard reuse)
    SnapshotOps.delete(spark, dir,
      events.filter(col("user_id") === 1L).select("event_id"), "event_id")
    assertAllHaveStats("after a COW delete")
    assert(ids(skipped()) ==
      ids(Snapshot.read(spark, dir).filter(col("user_id") <= m / 5)))
  }

  test("bloom point-lookup: bloomify records per-file filters, " +
       "mutations maintain them bit-compatibly via the #bloomcols tag, " +
       "and the lookup read prunes files without changing the answer") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapbloom")
      .toString
    val events = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
    val m = events.agg(max("user_id")).head().getLong(0)
    val bounds = Seq(0L, m / 4, m / 2, 3 * m / 4, m + 1)
    def batch(i: Int) = events.filter(
      col("user_id") >= bounds(i) && col("user_id") < bounds(i + 1))
    (0 until 2).foreach { i =>
      SnapshotOps.append(spark, dir, batch(i), "date", Some(s"b-$i"))
    }
    SnapshotStats.bloomify(spark, dir,
      Seq(SnapshotStats.BloomSpec("event_id", 65536, 5)))
    // batches 3 and 4 land AFTER bloomify — their filters must come
    // from the mutation maintenance path (the #bloomcols tag), built
    // with the SAME (bits, hashes) so driver probes stay compatible
    (2 until 4).foreach { i =>
      SnapshotOps.append(spark, dir, batch(i), "date", Some(s"b-$i"))
    }
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def allLines() = Snapshot.linesOf(fs, root,
      Snapshot.currentVersion(fs, root).get)
    def assertAllHaveBlooms(when: String): Unit = allLines().foreach { l =>
      val (p, st) = SnapshotStats.parseLine(l)
      assert(st.get("event_id#bloom").exists(_.min.exists(_.nonEmpty)),
        s"no event_id bloom on $p $when")
    }
    assertAllHaveBlooms("after bloomify + maintained appends")
    // present keys drawn from the MAINTAINED batches (proves the
    // post-bloomify filters actually index their rows)
    val present = batch(3).select("event_id").limit(8)
      .collect().map(_.getLong(0)).toSeq
    val maxE = events.agg(max("event_id")).head().getLong(0)
    val absent = (1 to 8).map(i => maxE + 1000L + i)
    val keys: Seq[Any] = present ++ absent
    val (kept, total) = SnapshotStats.lookupPlan(spark, dir,
      "event_id", keys)
    assert(kept.nonEmpty && kept.size < total,
      s"bloom plan kept ${kept.size} of $total files")
    def ids(df: DataFrame): Set[Long] =
      df.select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids(SnapshotStats.readLookup(spark, dir, "event_id", keys)) ==
      present.toSet)
    // all-absent keys: the read is empty (false positives may keep a
    // file — they can never surface a row)
    assert(SnapshotStats.readLookup(spark, dir, "event_id",
      absent).isEmpty)
    // COW delete rewrites hit files: rewritten files get FRESH blooms
    // (maintenance), untouched files carry theirs forward
    SnapshotOps.delete(spark, dir,
      events.filter(col("event_id") === present.head).select("event_id"),
      "event_id")
    assertAllHaveBlooms("after a COW delete")
    assert(ids(SnapshotStats.readLookup(spark, dir, "event_id", keys)) ==
      present.toSet - present.head)
  }

  test("restore rolls back to a retained version metadata-only: files " +
       "referenced verbatim, history intact, no-op on identity, loud " +
       "past retention") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snaprestore")
      .toString
    val events = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
    val v1 = SnapshotOps.append(spark, dir, events, "date",
      Some("restore-spec")).version
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v1Files = Snapshot.filesOf(fs, root, v1).toSet
    def ids(): Set[Long] = Snapshot.read(spark, dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val baseIds = ids()
    SnapshotOps.delete(spark, dir,
      events.filter(col("event_id") < 100).select("event_id"), "event_id")
    assert(ids() != baseIds)
    val v3 = SnapshotOps.restore(spark, dir, v1)
    // the restored table IS v1 — same rows, same FILES (metadata-only)
    assert(ids() == baseIds)
    assert(Snapshot.filesOf(fs, root, v3).toSet == v1Files)
    // the undone delete version stays time-travel-readable (history
    // intact — a restore is itself restorable)
    assert(Snapshot.readAt(spark, dir, v3 - 1).count() < baseIds.size)
    // restoring to the current file set is a no-op, not an empty commit
    assert(SnapshotOps.restore(spark, dir, v3) == v3)
    // a vacuumed target fails loudly, never a partial file set
    intercept[IllegalArgumentException] {
      SnapshotOps.restore(spark, dir, v1)
    }
  }

  test("write-audit-publish: staged commits are invisible to published " +
       "readers, publish reuses the staged files verbatim, reject " +
       "reverts and leaves a time-travel post-mortem window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapwap")
      .toString
    val events = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
    SnapshotOps.append(spark, dir, events, "date", Some("wap-spec-base"))
    val base = events.count()
    def pubIds(): Set[Long] = SnapshotWap.readPublished(spark, dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val baseIds = pubIds()
    assert(baseIds.size == base)

    val bad = events.filter(col("event_id") < 50)
      .withColumn("event_id", col("event_id") + lit(7000000L))
    val stagedV = SnapshotWap.stage(spark, dir, bad, "date", "w1")
    // the staged state is a real commit (current readers see it)…
    assert(Snapshot.read(spark, dir).count() == base + bad.count())
    // …but published readers do not
    assert(pubIds() == baseIds)
    // finalizing someone else's stage fails loudly
    intercept[IllegalArgumentException] {
      SnapshotWap.publish(spark, dir, "not-w1")
    }
    SnapshotWap.reject(spark, dir, "w1")
    assert(pubIds() == baseIds)
    assert(Snapshot.read(spark, dir).count() == base)
    // post-mortem: the rejected stage stays time-travel-readable
    // inside the retention window
    assert(Snapshot.readAt(spark, dir, stagedV).count() == base + bad.count())
    // rejecting twice fails loudly (current is no longer staged)
    intercept[IllegalArgumentException] {
      SnapshotWap.reject(spark, dir, "w1")
    }

    val good = events.filter(col("event_id") < 30)
      .withColumn("event_id", col("event_id") + lit(8000000L))
    val goodV = SnapshotWap.stage(spark, dir, good, "date", "w2")
    assert(pubIds() == baseIds)
    val pubV = SnapshotWap.publish(spark, dir, "w2")
    // publish is metadata-only: the published manifest references the
    // staged files VERBATIM (no rewrite, no new data files)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(Snapshot.filesOf(fs, root, pubV).toSet ==
      Snapshot.filesOf(fs, root, goodV).toSet)
    assert(pubIds() == baseIds ++
      good.select("event_id").collect().map(_.getLong(0)))
  }

  test("bloom sidecars: past the inline budget the filters live in " +
       "content-addressed sidecar files, the probe prunes identically, " +
       "and vacuum reaps only unreferenced sidecars") {
    import org.apache.hadoop.fs.Path
    def build(inlineMax: Int): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_snapbloomside").toString
      val events = graft.Tables.events(spark, sf)
        .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
        .withColumn("wk", expr("concat(date_format(date, 'yyyy-MM'), " +
          "'-w', cast((day(date) - 1) div 7 as string))"))
      // three range batches → multiple files with disjoint id ranges
      val m = events.agg(max("event_id")).head().getLong(0)
      (0 until 3).foreach { i =>
        SnapshotOps.append(spark, dir,
          events.filter(col("event_id") % 3 === i), "wk", Some(s"bs-$i"))
      }
      SnapshotStats.bloomify(spark, dir,
        Seq(SnapshotStats.BloomSpec("event_id", 65536, 5)),
        bloomInlineMax = inlineMax)
      dir
    }
    val inlineDir = build(Int.MaxValue)
    val sideDir = build(0) // every filter forced to a sidecar
    val root = new Path(sideDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = Snapshot.currentVersion(fs, root).get
    // shard lines carry @refs, not base64 — and are BOUNDED (a ref is
    // ~40 B where the 65536-bit filter's base64 is ~11 KB)
    val lines = Snapshot.linesOf(fs, root, v)
    assert(lines.forall(l => SnapshotStats.SidecarRe.findFirstIn(l).isDefined),
      s"no sidecar ref in: ${lines.head.take(200)}")
    assert(lines.forall(_.length < 1024),
      s"sidecar shard line not bounded: ${lines.map(_.length).max} chars")
    val blooms = new Path(new Path(root, Snapshot.MetaDir), "blooms")
    assert(fs.listStatus(blooms).count(_.isFile) > 0)
    // the probe prunes EXACTLY like the inline twin and reads right
    val keys: Seq[Any] = Seq(1L, 5L, 11L)
    val (keptS, totS) = SnapshotStats.lookupPlan(spark, sideDir, "event_id", keys)
    val (keptI, totI) = SnapshotStats.lookupPlan(spark, inlineDir, "event_id", keys)
    assert(totS == totI)
    // identical filter bytes either side (content only moved), so the
    // kept-set CARDINALITY matches exactly
    assert(keptS.size == keptI.size,
      s"sidecar kept ${keptS.size}, inline kept ${keptI.size}")
    assert(keptS.size < totS, "sidecar blooms pruned nothing")
    val got = SnapshotStats.readLookup(spark, sideDir, "event_id", keys)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val want = graft.Tables.events(spark, sf)
      .filter(col("event_id").isin(keys: _*))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    // vacuum: referenced sidecars survive a zero-grace sweep; an
    // orphan (planted) is reaped
    val orphan = new Path(blooms, "0" * 32 + ".bloom")
    val out = fs.create(orphan, false); out.write(Array[Byte](1)); out.close()
    Snapshot.vacuum(fs, root, stageGraceMs = 0L)
    assert(!fs.exists(orphan), "unreferenced sidecar survived vacuum")
    assert(fs.listStatus(blooms).count(_.isFile) > 0,
      "referenced sidecars reaped")
    // and the probe still works post-vacuum
    assert(SnapshotStats.readLookup(spark, sideDir, "event_id", keys)
      .count() == want.size)
  }

  test("WAP: a second stage on top of an unaudited one is rejected, and " +
       "publish refuses a manifest carrying another stage's #wap= tag") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapwapstack")
      .toString
    val events = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
    SnapshotOps.append(spark, dir, events, "date", Some("wapstack-base"))
    val w1 = events.filter(col("event_id") < 20)
      .withColumn("event_id", col("event_id") + lit(7100000L))
    SnapshotWap.stage(spark, dir, w1, "date", "s1")
    // stacking: staging s2 while s1 is unaudited must fail loudly —
    // publishing either would expose the other's unaudited files
    intercept[IllegalArgumentException] {
      SnapshotWap.stage(spark, dir, w1
        .withColumn("event_id", col("event_id") + lit(1000L)),
        "date", "s2")
    }
    // re-staging the SAME audit id stays idempotent-friendly (no
    // self-block); finalize normally
    SnapshotWap.reject(spark, dir, "s1")
    // legacy/external stacking (two #wap= tags hand-committed onto
    // one manifest): publish must refuse rather than leak the other
    // stage, whatever the tag order
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val cur = Snapshot.currentVersion(fs, root).get
    Snapshot.commit(fs, root, Snapshot.filesOf(fs, root, cur), cur,
      Snapshot.schemaOf(fs, root, cur),
      Snapshot.tagsOf(fs, root, cur) ++ Seq("#wap=sA", "#wap=sB"),
      baseFiles = Some(Snapshot.filesOf(fs, root, cur)))
    intercept[IllegalArgumentException] {
      SnapshotWap.publish(spark, dir, "sA")
    }
    intercept[IllegalArgumentException] {
      SnapshotWap.publish(spark, dir, "sB")
    }
    // reject still works (reverts to the published file set) and the
    // published read never saw any staged state
    SnapshotWap.reject(spark, dir, "sA")
    assert(SnapshotWap.readPublished(spark, dir).count() == events.count())
    // race: s1 lands after s2 pinned, before s2 staged — s2's commit
    // loses, its re-run sees s1 pending and fails instead of carrying
    // both #wap= tags
    var fired = false
    Snapshot.beforeStage = () => if (!fired) {
      fired = true
      SnapshotWap.stage(spark, dir, w1
        .withColumn("event_id", col("event_id") + lit(2000L)), "date", "s1")
    }
    try {
      intercept[IllegalArgumentException] {
        SnapshotWap.stage(spark, dir, w1
          .withColumn("event_id", col("event_id") + lit(3000L)), "date", "s2")
      }
      assert(fired)
    } finally Snapshot.beforeStage = () => ()
    val now = Snapshot.currentVersion(fs, root).get
    assert(Snapshot.tagsOf(fs, root, now).filter(_.startsWith("#wap=")) ==
      Seq("#wap=s1"))
  }

  test("metadata-only aggregates come from the manifest alone: exact " +
       "per-partition count/min/max, proven zero-data-IO by corrupting " +
       "every data file, and loud on a table without row counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapagg")
      .toString
    val events = graft.Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
    SnapshotOps.append(spark, dir, events, "date", Some("agg-0"))
    // before statsify: no row counts — the metadata aggregate must
    // refuse, never undercount
    intercept[IllegalArgumentException] {
      SnapshotStats.aggFromManifest(spark, dir, Seq("user_id"))
    }
    SnapshotStats.statsify(spark, dir, Seq("user_id"))
    val expect = Snapshot.read(spark, dir)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n"), min("user_id").as("min_user_id"),
        max("user_id").as("max_user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    def metaAgg() = SnapshotStats.aggFromManifest(spark, dir, Seq("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(metaAgg() == expect)
    // corrupt every data file: a scan would now fail, the metadata
    // aggregate must not notice (it never opens one)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Snapshot.pin(spark, dir).files.foreach { f =>
      val out = fs.create(new Path(root, f), true)
      try out.write("garbage".getBytes("UTF-8")) finally out.close()
    }
    assert(metaAgg() == expect, "metadata aggregate touched a data file")
  }

  test("cluster: the z-order rewrite preserves content exactly, its " +
       "new files get stats through the maintenance tag, and a 2-D " +
       "predicate prunes on BOTH dimensions afterwards") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapclust")
      .toString
    // sf0.01: a wide enough user_id domain that pruning statements
    // are statistically safe, not luck
    val events = graft.Tables.events(spark, sf01)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
    val b = events.agg(max("user_id"), max("event_id")).head()
    val (mU, mE) = (b.getLong(0), b.getLong(1))
    val eb = Seq(0L, mE / 4, mE / 2, 3 * mE / 4, mE + 1)
    (0 until 4).foreach { i =>
      SnapshotOps.append(spark, dir,
        events.filter(col("event_id") >= eb(i) &&
          col("event_id") < eb(i + 1)), "date", Some(s"c-$i"))
    }
    SnapshotStats.statsify(spark, dir, Seq("user_id", "event_id"))
    // arrival order clusters event_id, scatters user_id: a user-keyed
    // range keeps (essentially) every file
    val uPred = ("user_id", Some("0"), Some((mU / 3).toString))
    val ePred = ("event_id", Some("0"), Some((mE / 3).toString))
    val (keptU0, total0) = SnapshotStats.skipPlanMulti(spark, dir, Seq(uPred))
    assert(keptU0.size == total0,
      s"user_id pruned before clustering (${keptU0.size}/$total0)?")
    def ids(df: DataFrame): Set[Long] =
      df.select("event_id").collect().map(_.getLong(0)).toSet
    val before = ids(Snapshot.read(spark, dir))
    val stats = SnapshotOps.cluster(spark, dir, ("user_id", "event_id"))
    // a full-table rewrite: every old file retired, content identical
    assert(ids(Snapshot.read(spark, dir)) == before,
      "cluster changed the row set")
    assert(stats.retiredFiles > 0 && stats.newFiles > 0)
    // both dimensions now prune, and the 2-D plan is no wider than
    // either 1-D plan (conjunctive tile selection)
    val (keptU, total) = SnapshotStats.skipPlanMulti(spark, dir, Seq(uPred))
    val (keptE, _) = SnapshotStats.skipPlanMulti(spark, dir, Seq(ePred))
    val (kept2, _) =
      SnapshotStats.skipPlanMulti(spark, dir, Seq(uPred, ePred))
    assert(keptU.size < total, s"user_id did not prune (${keptU.size}/$total)")
    assert(keptE.size < total, s"event_id did not prune (${keptE.size}/$total)")
    assert(kept2.size <= math.min(keptU.size, keptE.size))
    assert(kept2.nonEmpty)
    // and the skipping read is still planning-only
    assert(ids(SnapshotStats.readSkippingMulti(spark, dir,
        Seq(uPred, ePred))) ==
      ids(Snapshot.read(spark, dir)
        .filter(col("user_id") <= mU / 3 && col("event_id") <= mE / 3)))
    // LogView rows clustered on (site bucket, hour): a site predicate
    // and a time window each prune, together they prune more than the
    // time window alone, and the zorder_layout read is exact
    val (lo, hi) = (graft.SparkEntry.SinceUs, graft.SparkEntry.UntilUs)
    val st = SnapshotStats.siteTimeTable(spark, sf01)
    val sb = SnapshotStats.siteBucketOf(spark, "site_3").toString
    val sPred = ("sb", Some(sb), Some(sb))
    val tPred = ("timestamp", Some(lo.toString), Some(hi.toString))
    val (keptS, totalST) = SnapshotStats.skipPlanMulti(spark, st, Seq(sPred))
    val (keptT, _) = SnapshotStats.skipPlanMulti(spark, st, Seq(tPred))
    val (keptST, _) = SnapshotStats.skipPlanMulti(spark, st, Seq(sPred, tPred))
    assert(keptS.size < totalST && keptT.size < totalST,
      s"site kept ${keptS.size}, time kept ${keptT.size} of $totalST")
    assert(keptST.nonEmpty && keptST.size < keptT.size &&
      keptST.size <= keptS.size, s"both kept ${keptST.size}")
    val window = graft.logs.LogView(spark, sf01).filter(col("site") === "site_3" &&
      col("timestamp") >= lo && col("timestamp") <= hi)
    val got = SnapshotStats.siteWindow(spark, sf01, "site_3", lo, hi)
    assert(got.count() == window.count() && window.count() > 0)
    assert(got.exceptAll(window).isEmpty && window.exceptAll(got).isEmpty)
  }

  test("morton interleave: bit i of a at 2i, bit i of b at 2i+1, clamped") {
    import spark.implicits._
    val in = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L),
      (0x1fffffL, 0x1fffffL), (1L << 40, 2L)) // beyond 21 bits clamps
    val rows = in.toDF("a", "b")
      .select(SnapshotOps.interleave(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    def ref(a: Long, b: Long): Long = {
      val cap = (1L << 21) - 1
      val (x, y) = (math.min(a, cap), math.min(b, cap))
      (0 until 21).foldLeft(0L)((acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    }
    val want = in.map((ref _).tupled)
    assert(rows.toSeq == want, s"${rows.toSeq} vs $want")
  }
}
