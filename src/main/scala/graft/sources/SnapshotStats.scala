package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.logs.LogView

/** Per-file zone maps (column min/max) in the snapshot manifest, and
  * the data-skipping reads they enable — the file-level analogue of
  * the manifest's partition pruning, and the mechanism every table
  * format (Delta file stats, Iceberg manifests-with-bounds) uses to
  * keep a 100 TB selective scan from opening 100 TB of files.
  *
  * Design:
  *
  *  - **Stats live in the manifest shard lines** (`path\tcol:T:min:max…`,
  *    values URL-encoded), so the planning surface stays ONE root read
  *    plus the touched partitions' shards — no sidecar files, no
  *    second commit protocol, and [[Snapshot.commit]]'s shard reuse
  *    carries stats of untouched partitions forward for free.
  *  - **Collection is one distributed job**, not per-file driver
  *    loops: scan the target files column-pruned to the stat columns
  *    plus `input_file_name()`, `groupBy(file).agg(min, max)` — the
  *    result is one row per file (metadata-sized collect), and the
  *    scan reads ONLY the stat columns (columnar parquet makes this
  *    ~free relative to the data).
  *  - **Maintenance is automatic**: [[statsify]] records the stat
  *    columns as a `#statscols=` manifest tag, and the write
  *    transaction ([[Snapshot.transact]]) every later commit goes
  *    through reads the tag and runs the churn-sized stats job over
  *    just the files that commit staged, so zone maps never go stale.
  *    [[statsify]] and [[bloomify]] are themselves transactions whose
  *    plan stages nothing new but names every live file for
  *    collection. Files without stats are always KEPT by the planner —
  *    absence degrades to a full scan, never to a wrong answer.
  *  - **Skipping is conservative**: a file is pruned only when its
  *    recorded [min, max] provably cannot intersect the predicate
  *    range. All-null columns record no bounds (kept). The skipping
  *    read applies the real filter after pruning, so the result
  *    equals the unpruned filtered read by construction — which is
  *    exactly what the spec and the hash gate assert.
  *
  * Zone maps only pay when files are clustered on the stat column —
  * ingest batches naturally are (time, monotone ids), and
  * [[SnapshotOps.cluster]]'s z-order rewrite makes multi-column ranges
  * tight. The gate fixture uses range-clustered ingest batches, the
  * realistic shape.
  */
object SnapshotStats {

  /** The manifest tag recording which columns every mutation must
    * maintain zone maps for. Carried forward (and never expired) by
    * [[Snapshot.expireTags]]'s unknown-tag passthrough.
    */
  private[sources] val StatsColsTag = "#statscols="

  private[sources] def statsColsOf(tags: Seq[String]): Seq[String] =
    tags.collectFirst { case t if t.startsWith(StatsColsTag) =>
      t.stripPrefix(StatsColsTag).split(',').toSeq.filter(_.nonEmpty)
    }.getOrElse(Nil)

  /** The manifest tag recording which columns carry per-file Bloom
    * filters, WITH their sizing (`#bloomcols=col:bits:hashes,…`) —
    * the parameters must ride the table, not the caller, so the
    * maintenance path builds new files' blooms bit-compatible with
    * the old ones. Carried forward like [[StatsColsTag]].
    */
  private[sources] val BloomColsTag = "#bloomcols="

  /** One bloom-indexed column's build parameters. */
  case class BloomSpec(col: String, bits: Int, hashes: Int)

  private[sources] def bloomColsOf(tags: Seq[String]): Seq[BloomSpec] =
    tags.collectFirst { case t if t.startsWith(BloomColsTag) =>
      t.stripPrefix(BloomColsTag).split(',').toSeq.filter(_.nonEmpty)
        .map { s =>
          val Array(c, b, h) = s.split(':')
          BloomSpec(dec(c), b.toInt, h.toInt)
        }
    }.getOrElse(Nil)

  private[sources] def bloomTagOf(specs: Seq[BloomSpec]): String =
    BloomColsTag + specs.map(s => s"${enc(s.col)}:${s.bits}:${s.hashes}")
      .mkString(",")

  /** Suffix-field key carrying a column's bloom (distinct from its
    * zone-map key, so one column can have both).
    */
  private def bloomKey(c: String): String = c + "#bloom"

  /** Filter bytes at or under this stay base64-INLINE in the shard
    * line; larger ones spill to content-addressed SIDECAR files under
    * `_graft_snapshots/blooms/`, with the shard line carrying only a
    * `@<name>` reference — the continuation SURVEY §4 names past the
    * embedded bound (~10⁵ files × 8 KB ≈ gigabytes of base64 in the
    * shards): shard size stays bounded at any bits/file, the probe
    * pays one extra read per REFERENCED file it actually touches, and
    * the content address (md5 of the bytes) makes rewrites idempotent
    * and carry-forward free. The default keeps gate-scale filters
    * (8 KB at the 65536-bit floor) inline.
    */
  val BloomInlineMaxBytes: Int = 65536

  private def bloomsDir(root: Path) =
    new Path(new Path(root, Snapshot.MetaDir), "blooms")

  /** Matchable name of a sidecar reference inside an encoded suffix
    * field (base64 never contains '@'). [[Snapshot.vacuum]] greps kept
    * shard text for these names when reaping unreferenced sidecars.
    */
  private[sources] val SidecarRe = "(?:@|%40)([0-9a-f]{32}\\.bloom)".r

  private def writeSidecar(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                           bytes: Array[Byte]): String = {
    val name = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString + ".bloom"
    val dir = bloomsDir(root)
    fs.mkdirs(dir)
    val p = new Path(dir, name)
    if (!fs.exists(p)) {
      // content-addressed: a concurrent writer producing the same
      // bytes writes the same content — create-no-overwrite races
      // are benign, the loser's content is already there
      try {
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
      } catch { case _: java.io.IOException if fs.exists(p) => () }
    }
    s"@$name"
  }

  /** Resolve a bloom suffix value to filter bytes: inline base64 or a
    * `@name` sidecar reference.
    */
  private def bloomBytesOf(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                           value: String): Array[Byte] =
    if (value.startsWith("@")) {
      val in = fs.open(new Path(bloomsDir(root), value.stripPrefix("@")))
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    } else java.util.Base64.getDecoder.decode(value)

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** One column's zone map: type code L (integral), D (floating),
    * S (string/date — ordered lexicographically, ISO dates sort
    * right); `None` bounds = all-null or uncollected (never prunes).
    */
  case class ColStats(tpe: String, min: Option[String], max: Option[String])

  /** Encode one file's stats as the tab-separated shard-line suffix. */
  private[sources] def encodeSuffix(stats: Seq[(String, ColStats)]): String =
    stats.map { case (c, s) =>
      s"${enc(c)}:${s.tpe}:${s.min.map(enc).getOrElse("")}:" +
        s.max.map(enc).getOrElse("")
    }.mkString("\t")

  /** Parse a raw shard line into (path, per-column stats). Unknown or
    * malformed fields are ignored (kept files, never a crash — a
    * forward-compatible reader).
    */
  private[sources] def parseLine(line: String): (String, Map[String, ColStats]) = {
    val fields = line.split('\t')
    val stats = fields.drop(1).flatMap { f =>
      f.split(':') match {
        case Array(c, t, mn, mx) =>
          Some(dec(c) -> ColStats(t,
            if (mn.isEmpty) None else Some(dec(mn)),
            if (mx.isEmpty) None else Some(dec(mx))))
        case Array(c, t, mn) => // empty max split away
          Some(dec(c) -> ColStats(t,
            if (mn.isEmpty) None else Some(dec(mn)), None))
        case Array(c, t) =>
          Some(dec(c) -> ColStats(t, None, None))
        case _ => None
      }
    }.toMap
    (fields.head, stats)
  }

  private def typeCodeOf(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "L"
    case FloatType | DoubleType => "D"
    case StringType | DateType => "S"
    case other => throw new IllegalArgumentException(
      s"zone maps unsupported for column type $other")
  }

  /** The pseudo-column carrying each file's exact ROW COUNT in the
    * stats suffix (`__rows:N:<count>:`) — what makes per-partition
    * `count(*)` (and min-of-mins / max-of-maxes) answerable from the
    * MANIFEST alone, zero data IO ([[countsFromManifest]] /
    * [[aggFromManifest]]) — the metadata-only aggregate every table
    * format serves at 100 TB.
    */
  private[sources] val RowsField = "__rows"

  /** Collect per-file min/max for `cols` (plus the exact row count)
    * over `files` (relative paths, scanned under the table's `schema`)
    * in ONE column-pruned distributed job. Returns the encoded
    * shard-line suffix per relative path — the `stats` argument
    * [[Snapshot.commit]] takes.
    */
  def collectStats(spark: SparkSession, dir: String, files: Seq[String],
                   schema: StructType, cols: Seq[String],
                   blooms: Seq[BloomSpec] = Nil,
                   bloomInlineMax: Int = BloomInlineMaxBytes): Map[String, String] = {
    if (files.isEmpty || (cols.isEmpty && blooms.isEmpty)) return Map.empty
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val rootUri = fs.makeQualified(root).toUri.getPath
    val codes = cols.map(c => c -> typeCodeOf(schema(c).dataType)).toMap
    // stringify bounds in-plan (dates → ISO, numerics → exact
    // literals via the same cast both engines print), so the collect
    // is rows of strings regardless of column type; blooms ride the
    // same grouped job as base64 (the graft bloom_agg aggregate —
    // map-side partial OR, one filter per file, never a driver loop)
    val aggs = (cols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    } :+ count(lit(1)).cast("string").as("__nrows")) ++
      blooms.map(b => graft.functions.bloom_agg(
        col(b.col), b.bits, b.hashes).as(s"__bl_${b.col}"))
    val scanCols = (cols ++ blooms.map(_.col)).distinct
    val rows = Snapshot.scan(spark, dir, schema, files)
      .select(scanCols.map(col) :+ input_file_name().as("__f"): _*)
      .groupBy("__f").agg(aggs.head, aggs.tail: _*)
      .collect()
    val bloomBase = 2 + 2 * cols.size
    rows.map { r =>
      val rel = new Path(r.getString(0)).toUri.getPath
        .stripPrefix(rootUri).stripPrefix("/")
      val suffix = encodeSuffix(cols.zipWithIndex.map { case (c, i) =>
        c -> ColStats(codes(c),
          Option(r.getString(1 + 2 * i)), Option(r.getString(2 + 2 * i)))
      } ++ Seq(RowsField -> ColStats("N",
        Some(r.getString(1 + 2 * cols.size)), None)) ++
        blooms.zipWithIndex.map { case (b, i) =>
          // bytes → base64 driver-side (the no-linebreak JDK encoder;
          // Spark SQL's base64 is MIME-chunked, which would embed
          // newlines in a one-line shard format); filters over the
          // inline budget spill to content-addressed sidecar files
          bloomKey(b.col) -> ColStats("B",
            Option(r.getAs[Array[Byte]](bloomBase + i)).map { bytes =>
              if (bytes.length <= bloomInlineMax)
                java.util.Base64.getEncoder.encodeToString(bytes)
              else writeSidecar(fs, root, bytes)
            }, None)
        })
      rel -> suffix
    }.toMap
  }

  /** Turn zone maps ON for a snapshot table: collect stats for every
    * live file (one full-table job over the stat columns only — the
    * one-time cost) and commit them as version `current + 1` with the
    * `#statscols=` maintenance tag. Subsequent commits keep the maps
    * fresh on churn ([[Snapshot.transact]] reads the tag). Returns the
    * committed version.
    */
  def statsify(spark: SparkSession, dir: String, cols: Seq[String]): Long = {
    require(cols.nonEmpty, "statsify needs at least one column")
    refreshMeta(spark, dir, newStatCols = Some(cols), newBlooms = None)
  }

  /** Turn per-file Bloom filters ON for a snapshot table (the
    * point-lookup analogue of [[statsify]]): one full-table grouped
    * `bloom_agg` job, committed with the `#bloomcols=col:bits:hashes`
    * maintenance tag so every subsequent mutation builds
    * bit-compatible blooms for ITS new files. Existing zone maps are
    * recomputed into the same suffix (a fresh stats entry replaces
    * the whole shard line); returns the committed version.
    */
  def bloomify(spark: SparkSession, dir: String,
               specs: Seq[BloomSpec],
               bloomInlineMax: Int = BloomInlineMaxBytes): Long = {
    require(specs.nonEmpty, "bloomify needs at least one column spec")
    refreshMeta(spark, dir, newStatCols = None, newBlooms = Some(specs),
      bloomInlineMax = bloomInlineMax)
  }

  /** Shared [[statsify]]/[[bloomify]] core: one transaction that
    * replaces the maintenance tags and names every live file for
    * collection, so BOTH metadata families are recollected (whichever
    * is being turned on plus whatever the table already maintains — a
    * stats entry replaces the whole shard line, so partial
    * recollection would silently drop the other family).
    */
  private def refreshMeta(spark: SparkSession, dir: String,
                          newStatCols: Option[Seq[String]],
                          newBlooms: Option[Seq[BloomSpec]],
                          bloomInlineMax: Int = BloomInlineMaxBytes): Long =
    Snapshot.transact(spark, dir) { p =>
      val cols = newStatCols.getOrElse(statsColsOf(p.tags))
      val blooms = newBlooms.getOrElse(bloomColsOf(p.tags))
      (Some(Snapshot.Write(p.files, staged = p.files,
        dropTags = t => t.startsWith(StatsColsTag) || t.startsWith(BloomColsTag),
        addTags =
          (if (cols.nonEmpty) Seq(StatsColsTag + cols.mkString(",")) else Nil) ++
            (if (blooms.nonEmpty) Seq(bloomTagOf(blooms)) else Nil),
        bloomInlineMax = bloomInlineMax)), p.version + 1)
    }

  /** The skipping plan for a closed-range predicate
    * `lo <= colName <= hi` on the CURRENT version: (kept files, total
    * files). A file survives when it has no recorded bounds for the
    * column (conservative) or its [min, max] intersects [lo, hi] —
    * bounds compared in the column's own domain (integral / floating
    * / lexicographic), both predicate ends optional.
    */
  def skipPlan(spark: SparkSession, dir: String, colName: String,
               lo: Option[String], hi: Option[String]): (Seq[String], Int) =
    skipPlanMulti(spark, dir, Seq((colName, lo, hi)))

  /** Multi-dimension skipping plan: a file survives only when EVERY
    * predicate's zone-map check passes — the conjunctive pruning a
    * z-ordered layout turns into 2-D tile selection (each file's
    * (colA, colB) bounds form a rectangle; a conjunctive range query
    * keeps only intersecting rectangles).
    */
  def skipPlanMulti(spark: SparkSession, dir: String,
                    preds: Seq[(String, Option[String], Option[String])])
      : (Seq[String], Int) = {
    val (fs, root, v) = Snapshot.current(spark, dir)
    skipPlanAt(fs, root, v, preds)
  }

  /** [[skipPlanMulti]] against committed version `v`. */
  private def skipPlanAt(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                         v: Long,
                         preds: Seq[(String, Option[String], Option[String])])
      : (Seq[String], Int) = {
    val lines = Snapshot.linesOf(fs, root, v)
    def leq(t: String)(a: String, b: String): Boolean = t match {
      case "L" => a.toLong <= b.toLong
      case "D" => a.toDouble <= b.toDouble
      case _ => a <= b
    }
    val kept = lines.map(parseLine).collect {
      case (path, stats) if preds.forall { case (colName, lo, hi) =>
        stats.get(colName).forall { s =>
          (s.min, s.max) match {
            case (Some(mn), Some(mx)) =>
              lo.forall(l => leq(s.tpe)(l, mx)) &&
                hi.forall(h => leq(s.tpe)(mn, h))
            case _ => true // no bounds recorded — keep
          }
        }
      } => path
    }
    (kept, lines.size)
  }

  /** The gate fixture: a snapshot table built the way a real ingest
    * clusters data — FOUR range-disjoint `user_id` batches appended in
    * order (each append's files span one quartile, whatever Spark's
    * file splits do), zone maps turned on after the third, so the
    * fourth batch's stats come from the MAINTENANCE path (the
    * `#statscols=` tag driving append's churn-sized stats job), not
    * from statsify. Memoized per (session, input dir); the final row
    * set is exactly `events` once, so the oracle stays relational.
    *
    * Partitioned by WEEK bucket, not day: file-level skipping is
    * orthogonal to partition count, and the 30-dir day layout made
    * every append and stats job pay ~30 tiny tasks — the fixture
    * build was eating the bench warmup window. ~5 week dirs keep the
    * metadata census gate multi-row while cutting the build ~6×
    * (`date` stays a CONTENT column; the other gates group and
    * filter on it unchanged). The bucket arithmetic
    * (`(day-1) div 7`) is engine-portable — no locale-dependent week
    * numbering.
    */
  private def skippingFixture(spark: SparkSession, dir: String): String =
    graft.Memo.dir(spark, "snapskip", dir) { tmp =>
      val events = Tables.events(spark, dir)
        .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
        .withColumn("wk", expr("concat(date_format(date, 'yyyy-MM'), " +
          "'-w', cast((day(date) - 1) div 7 as string))"))
      val m = events.agg(max("user_id")).head().getLong(0)
      val bounds = Seq(0L, m / 4, m / 2, 3 * m / 4, m + 1)
      def batch(i: Int) = events.filter(
        col("user_id") >= bounds(i) && col("user_id") < bounds(i + 1))
      (0 until 3).foreach { i =>
        SnapshotOps.append(spark, tmp, batch(i), "wk",
          Some(s"skipseed-$i"))
      }
      statsify(spark, tmp, Seq("user_id"))
      // blooms on event_id (high-cardinality, unclustered in this
      // layout — exactly where zone maps prune nothing); the filter
      // is PER FILE, so size to ~10+ bits per expected PER-FILE key
      // count (n spread over ~20 files here), not per total rows —
      // bits = highestOneBit(n) ≈ 10·(n/20)·2 keeps the per-key
      // budget ≥ 10 bits at any gate sf (sizing per TOTAL rows / 8
      // gave ~1-2 bits/key at sf ≥ 1: ~90% FP rate, every file kept,
      // pruning silently degraded to a full scan). The 4th append's
      // blooms come from the MAINTENANCE path like its zone maps.
      val n = events.count()
      val bits = math.max(65536L,
        java.lang.Long.highestOneBit(n)).toInt
      bloomify(spark, tmp, Seq(BloomSpec("event_id", bits, 5)))
      SnapshotOps.append(spark, tmp, batch(3), "wk", Some("skipseed-3"))
    }

  /** Gate query: a selective rollup (`user_id ≤ max/5`) through the
    * data-skipping read over the range-clustered fixture — the zone
    * maps prune roughly three quarters of the files before the scan
    * opens anything (spec-asserted via [[skipPlan]]); the hash gate
    * proves pruning never drops a qualifying row (the oracle is the
    * plain relational filter over `events`).
    */
  def snapshotSkippingRollup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = skippingFixture(spark, dir)
    val m = Tables.events(spark, dir).agg(max("user_id")).head().getLong(0)
    readSkipping(spark, tmp, "user_id", Some("0"), Some((m / 5).toString))
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"),
        sum("user_id").as("sum_uid"))
      .orderBy("date")
  }

  /** Metadata-only aggregates: per-partition `count(*)`, `min(col)`
    * and `max(col)` computed from the MANIFEST stats alone — no data
    * file is opened (min-of-mins / max-of-maxes over exact per-file
    * bounds is exact; the row count rides the [[RowsField]] pseudo
    * column). This is the 100 TB "how big is the corpus per day"
    * query answered in manifest-read time. Fails loudly when any
    * live file lacks a row count — a metadata aggregate must never
    * silently undercount a partially-statsified table.
    */
  def aggFromManifest(spark: SparkSession, dir: String,
                      cols: Seq[String]): DataFrame = {
    val (fs, root, v) = Snapshot.current(spark, dir)
    val parsed = Snapshot.linesOf(fs, root, v).map(parseLine)
    parsed.foreach { case (p, st) =>
      require(st.get(RowsField).exists(_.min.isDefined),
        s"no row-count stats on $p — statsify before metadata aggregates")
      cols.foreach(c => require(st.contains(c),
        s"no $c stats on $p — statsify before metadata aggregates"))
    }
    val partCol = parsed.head._1.takeWhile(_ != '=')
    def unesc(p: String): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(
          p.substring(p.indexOf('=') + 1, p.indexOf('/')))
    val codes: Map[String, String] =
      cols.map(c => c -> parsed.head._2(c).tpe).toMap
    def typed(code: String, s: String): Any = code match {
      case "L" => s.toLong
      case "D" => s.toDouble
      case _ => s
    }
    val rows = parsed.groupBy { case (p, _) => unesc(p) }.toSeq
      .sortBy(_._1)
      .map { case (part, files) =>
        val n = files.map(_._2(RowsField).min.get.toLong).sum
        val vals: Seq[Any] = cols.flatMap { c =>
          val mins = files.flatMap(_._2(c).min).map(typed(codes(c), _))
          val maxs = files.flatMap(_._2(c).max).map(typed(codes(c), _))
          def ord(a: Any, b: Any, lt: Boolean): Any = (a, b) match {
            case (x: Long, y: Long) => if ((x < y) == lt) x else y
            case (x: Double, y: Double) => if ((x < y) == lt) x else y
            case (x: String, y: String) => if ((x < y) == lt) x else y
            case _ => a
          }
          Seq(if (mins.isEmpty) null else mins.reduce(ord(_, _, lt = true)),
            if (maxs.isEmpty) null else maxs.reduce(ord(_, _, lt = false)))
        }
        org.apache.spark.sql.Row.fromSeq(part +: n +: vals)
      }
    def sqlType(code: String): DataType = code match {
      case "L" => LongType
      case "D" => DoubleType
      case _ => StringType
    }
    val schema = StructType(
      StructField(partCol, StringType) :: StructField("n", LongType) ::
        cols.toList.flatMap(c => Seq(
          StructField(s"min_$c", sqlType(codes(c))),
          StructField(s"max_$c", sqlType(codes(c))))))
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
  }

  /** Gate query: the per-week corpus census (`count, min, max`)
    * answered entirely from the manifest of the statsified fixture —
    * the spec proves zero data IO by corrupting every data file and
    * re-running; the hash gate proves the metadata numbers equal the
    * relational scan's.
    */
  def snapshotAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val tmp = skippingFixture(spark, dir)
    aggFromManifest(spark, tmp, Seq("user_id")).orderBy("wk")
  }

  /** The cluster-gate fixture: ingest arrives clustered by EVENT TIME
    * order (event_id range batches — the natural arrival order), which
    * leaves `user_id` scattered across every file, so a user-keyed
    * predicate prunes nothing. Zone maps on, then ONE
    * [[SnapshotOps.cluster]] rewrite along z(user_id, event_id) —
    * whose new files pick up their stats through the `#statscols`
    * maintenance path, not statsify. Memoized per (session, dir);
    * final row set = `events` exactly once.
    */
  private def clusteredFixture(spark: SparkSession, dir: String): String =
    graft.Memo.dir(spark, "snapcluster", dir) { tmp =>
      val events = Tables.events(spark, dir)
        .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
        .withColumn("ym", date_format(col("date"), "yyyy-MM"))
      val mE = events.agg(max("event_id")).head().getLong(0)
      val eb = Seq(0L, mE / 4, mE / 2, 3 * mE / 4, mE + 1)
      (0 until 4).foreach { i =>
        SnapshotOps.append(spark, tmp,
          events.filter(col("event_id") >= eb(i) &&
            col("event_id") < eb(i + 1)),
          "ym", Some(s"clseed-$i"))
      }
      statsify(spark, tmp, Seq("user_id", "event_id"))
      SnapshotOps.cluster(spark, tmp, ("user_id", "event_id"))
    }

  /** Gate query: a conjunctive 2-D selective rollup
    * (`user_id ≤ maxU/3 AND event_id ≤ maxE/3`) through the
    * multi-dimension skipping read over the z-clustered table — the
    * tiles intersecting the query rectangle are the only files opened
    * (spec asserts both dimensions prune and the 2-D plan is no wider
    * than either 1-D plan); the hash gate proves tile selection never
    * drops a qualifying row.
    */
  def snapshotClusterRollup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = clusteredFixture(spark, dir)
    val bounds = Tables.events(spark, dir)
      .agg(max("user_id"), max("event_id")).head()
    val (hU, hE) = (bounds.getLong(0) / 3, bounds.getLong(1) / 3)
    readSkippingMulti(spark, tmp, Seq(
      ("user_id", Some("0"), Some(hU.toString)),
      ("event_id", Some("0"), Some(hE.toString))))
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"),
        sum("user_id").as("sum_uid"))
      .orderBy("date")
  }

  /** The point-lookup skipping plan: (kept files, total). A file
    * survives when it has no bloom recorded for the column
    * (conservative — absence degrades to a scan, never a wrong
    * answer) or ANY of the keys may be in its filter. Bloom
    * parameters come from the table's `#bloomcols` tag, so the probe
    * is always bit-compatible with however the filters were built.
    * Zone maps can't serve this query: a high-cardinality unclustered
    * key has every file spanning ~the full domain, so range bounds
    * keep everything — membership is the only prunable signal.
    */
  def lookupPlan(spark: SparkSession, dir: String, colName: String,
                 keys: Seq[Any]): (Seq[String], Int) = {
    val (fs, root, v) = Snapshot.current(spark, dir)
    lookupPlanAt(fs, root, v, colName, keys)
  }

  /** [[lookupPlan]] against committed version `v`. */
  private def lookupPlanAt(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                           v: Long, colName: String,
                           keys: Seq[Any]): (Seq[String], Int) = {
    val spec = bloomColsOf(Snapshot.tagsOf(fs, root, v))
      .find(_.col == colName)
    val lines = Snapshot.linesOf(fs, root, v)
    val kept = lines.map(parseLine).collect {
      case (path, stats) if spec.isEmpty ||
        stats.get(bloomKey(colName)).flatMap(_.min).forall { value =>
          // inline base64 or a @sidecar reference — same probe either
          // way; sidecar reads are per-file the probe actually touches
          val bytes = bloomBytesOf(fs, root, value)
          keys.exists {
            case l: Long =>
              graft.functions.BloomAgg.mayContain(bytes, l, spec.get.hashes)
            case s: String =>
              graft.functions.BloomAgg.mayContain(bytes, s, spec.get.hashes)
            case other => throw new IllegalArgumentException(
              s"bloom lookup keys must be Long or String, got $other")
          }
        } => path
    }
    (kept, lines.size)
  }

  /** Point-lookup read: bloom-prune files, scan survivors, apply the
    * real IN predicate (pruning is planning-only — false positives
    * cost IO, never correctness). Plan and schema come from one
    * resolved version.
    */
  def readLookup(spark: SparkSession, dir: String, colName: String,
                 keys: Seq[Any]): DataFrame = {
    val (fs, root, v) = Snapshot.current(spark, dir)
    val (kept, _) = lookupPlanAt(fs, root, v, colName, keys)
    Snapshot.scan(spark, dir, Snapshot.schemaOf(fs, root, v), kept)
      .filter(col(colName).isin(keys: _*))
  }

  /** Gate query: a 24-key point lookup (`event_id` stride samples)
    * through the bloom-pruned read over the shared fixture — blooms
    * prune the files whose id ranges can't hold the keys (the fixture
    * appends are event-time batches, so most files drop;
    * spec-asserted via [[lookupPlan]]); the hash gate proves bloom
    * pruning never drops a matching row (the oracle is the plain
    * relational IN over `events`).
    */
  def snapshotPointLookup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = skippingFixture(spark, dir)
    // 24 keys GUARANTEED to exist at any id density: the smallest
    // event_id of each of 24 equal-width id buckets (one tiny
    // column-pruned agg; the oracle derives the identical set)
    val events = Tables.events(spark, dir)
    val maxE = events.agg(max("event_id")).head().getLong(0)
    val step = maxE / 24 + 1
    val keys: Seq[Any] = events
      .groupBy(expr(s"event_id div ${step}L"))
      .agg(min("event_id").as("k"))
      .collect().map(_.getLong(1)).toSeq.sorted
    readLookup(spark, tmp, "event_id", keys)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("date").cast("string").as("date"))
      .orderBy("event_id")
  }

  /** Data-skipping read: prune files by zone map, scan the survivors,
    * apply the REAL predicate (pruning is planning-only, so the
    * result is exactly the unpruned filtered read). An all-pruned
    * plan returns an empty frame with the table schema.
    */
  def readSkipping(spark: SparkSession, dir: String, colName: String,
                   lo: Option[String], hi: Option[String]): DataFrame =
    readSkippingMulti(spark, dir, Seq((colName, lo, hi)))

  /** Multi-dimension data-skipping read — see [[skipPlanMulti]]. Plan
    * and schema come from one resolved version.
    */
  def readSkippingMulti(spark: SparkSession, dir: String,
                        preds: Seq[(String, Option[String], Option[String])])
      : DataFrame = {
    val (fs, root, v) = Snapshot.current(spark, dir)
    val (kept, _) = skipPlanAt(fs, root, v, preds)
    val sch = Snapshot.schemaOf(fs, root, v)
    val base = Snapshot.scan(spark, dir, sch, kept)
    val conj = preds.flatMap { case (colName, lo, hi) =>
      val dt = sch(colName).dataType
      lo.map(l => col(colName) >= lit(l).cast(dt)).toSeq ++
        hi.map(h => col(colName) <= lit(h).cast(dt))
    }
    if (conj.isEmpty) base else base.filter(conj.reduce(_ && _))
  }

  /** The `stats_prune` gate — pond's per-file time index on snapshot
    * zone maps: LogView rows appended to a fresh table with their
    * week as the partition (each file covers one week, as time-ordered
    * arrival leaves them), zone maps on `timestamp`, then the skipping
    * read of the closed window `[loUs, hiUs]`. Files outside the
    * window are never opened; the hash gate proves pruning drops no
    * qualifying row. Only LogView columns go out.
    */
  def timeWindow(spark: SparkSession, sfDir: String,
                 loUs: Long, hiUs: Long): DataFrame = {
    val tmp = SnapshotOps.freshTable(spark, "statsprune", sfDir)
    SnapshotOps.append(spark, tmp, LogView(spark, sfDir).withColumn("wk",
      expr("concat(date_format(timestamp_micros(timestamp), 'yyyy-MM'), " +
        "'-w', cast((day(timestamp_micros(timestamp)) - 1) div 7 as string))")),
      "wk")
    statsify(spark, tmp, Seq("timestamp"))
    readSkipping(spark, tmp, "timestamp", Some(loUs.toString),
      Some(hiUs.toString))
      .select(LogView.columns.map(col): _*)
      .orderBy("timestamp", "event_id")
  }

  /** A stable site bucket (xxhash64 — any site cardinality; an
    * equality predicate on the site prunes on its bucket).
    */
  private def siteBucket(site: Column): Column =
    pmod(xxhash64(site), lit(1024L))

  /** [[siteBucket]] of one site, evaluated over a one-row local
    * relation (folded at optimization time — no job).
    */
  private[sources] def siteBucketOf(spark: SparkSession, site: String): Long = {
    import spark.implicits._
    Seq(site).toDF("site").select(siteBucket(col("site"))).head().getLong(0)
  }

  /** pond's per-site AND per-day file locality on a snapshot table:
    * LogView rows plus their site bucket `sb` and hour bucket `hr`,
    * clustered by [[SnapshotOps.cluster]] along z(sb, hr) into 16
    * files, then zone maps on `sb` and `timestamp` — each file is a
    * small rectangle in (site, time) space. Rebuilt from scratch on
    * every call. Returns the table dir.
    */
  private[sources] def siteTimeTable(spark: SparkSession,
                                     sfDir: String): String = {
    val tmp = SnapshotOps.freshTable(spark, "zorder", sfDir)
    SnapshotOps.append(spark, tmp, LogView(spark, sfDir)
      .withColumn("ym", date_format(timestamp_micros(col("timestamp")), "yyyy-MM"))
      .withColumn("sb", siteBucket(col("site")))
      .withColumn("hr", expr("timestamp div 3600000000")), "ym")
    SnapshotOps.cluster(spark, tmp, ("sb", "hr"), filesPerPartition = 16)
    statsify(spark, tmp, Seq("sb", "timestamp"))
    tmp
  }

  /** The `zorder_layout` gate: the (site, window) read over
    * [[siteTimeTable]], pruned on BOTH the site bucket and the time
    * zone maps, then the exact site predicate. The hash gate proves
    * tile selection drops no qualifying row. Only LogView columns go
    * out.
    */
  def siteWindow(spark: SparkSession, sfDir: String, site: String,
                 loUs: Long, hiUs: Long): DataFrame = {
    val tmp = siteTimeTable(spark, sfDir)
    val sb = siteBucketOf(spark, site).toString
    readSkippingMulti(spark, tmp, Seq(("sb", Some(sb), Some(sb)),
      ("timestamp", Some(loUs.toString), Some(hiUs.toString))))
      .filter(col("site") === site)
      .select(LogView.columns.map(col): _*)
      .orderBy("timestamp", "event_id")
  }
}
