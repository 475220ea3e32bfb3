package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.logs.LogView
import graft.sources.{Snapshot, SnapshotOps}
import graft.streaming.{Follow, LiveVisitors, StreamOps}

/** Seeded upsert/delete/append commits, with a compact every few
  * commits, interleaved with snapshot reads, on one snapshot table
  * converted from the date-partitioned events.
  */
final class TableMutation(script: JsonNode) extends Workload {
  private val steps = Json.elems(script.get("steps"))
  private val baseRows = script.get("rows").asLong
  private var cursor = 0
  private var table: String = _
  private var version = 0L
  /** Files under the table root as of the last commit: (path → bytes). */
  private var onDisk = Map.empty[String, Long]
  /** Every executed step, for the DuckDB replay. */
  private val log = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Per committed step: bytes and files it left under the root. */
  val written = mutable.Map.empty[String, (Long, Long)]
  /** Per committed step: the batch file it applied. */
  private val batchOf = mutable.Map.empty[String, String]
  val mutation = mutable.Map.empty[String, SnapshotOps.MutationStats]
  /** Per committed step, the table after it: (live files, lines of the
    * version's root manifest).
    */
  val state = mutable.Map.empty[String, (Long, Long)]
  /** Per read_range step: (files kept by partition pruning, live files). */
  val pruning = mutable.Map.empty[String, (Long, Long)]

  val kinds: Set[String] = steps.map(_.get("kind").asText).toSet

  def tables(ctx: Ctx): Seq[(String, String)] = Seq(ctx.in -> "events")

  private def fs(ctx: Ctx): FileSystem =
    new Path(table).getFileSystem(ctx.spark.sessionState.newHadoopConf())

  private def dated(df: DataFrame): DataFrame =
    df.withColumn("date", expr("CAST(date(timestamp_micros(ts div 1000)) AS STRING)"))

  def start(ctx: Ctx): Unit = {
    table = s"${ctx.work}/table"
    dated(Tables.events(ctx.spark, ctx.in))
      .write.partitionBy("date").parquet(table)
    version = Snapshot.convert(ctx.spark, table, "date")
    onDisk = Workload.files(table)
  }

  private def batch(ctx: Ctx, rel: String): DataFrame = {
    val name = rel.stripPrefix("batches/").stripSuffix(".parquet")
    dated(Tables.load(ctx.spark, s"${ctx.in}/batches", name))
  }

  private def rollup(df: DataFrame): DataFrame =
    df.groupBy("date")
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_id"),
        sum("user_id").as("sum_user"))
      .orderBy("date")

  def next(ctx: Ctx): Option[Op] =
    if (cursor >= steps.size) None
    else {
      val st = steps(cursor)
      val i = cursor
      cursor += 1
      val kind = st.get("kind").asText
      val s = ctx.spark
      val rel = Option(st.get("batch")).map(_.asText)
      val batchPath = rel.map(r => s"${ctx.in}/$r")
      def commit(rows: Long)(f: => SnapshotOps.MutationStats): Op = {
        var ms: SnapshotOps.MutationStats = null
        Op(kind, rows, Action(() => ms = f), commit = true, tag = s"$i", after = () => {
          version = ms.version
          mutation(s"$i") = ms
          val now = Workload.files(table)
          val fresh = now.filter { case (p, b) => !onDisk.get(p).contains(b) }
          written(s"$i") = (fresh.values.sum, fresh.size.toLong)
          onDisk = now
          val root = new Path(table)
          val manifest = Paths.get(
            f"$table/${Snapshot.MetaDir}/v$version%08d.manifest")
          state(s"$i") = (Snapshot.filesOf(fs(ctx), root, version).size.toLong,
            Files.readAllLines(manifest).size.toLong)
          batchPath.foreach(batchOf(s"$i") = _)
          log += Map("step" -> i, "kind" -> kind, "batch" -> batchPath,
            "version" -> version)
        })
      }
      def read(rows: Long, readVersion: Long)(df: => DataFrame): Op = {
        val out = ctx.out(s"m$i")
        Op(kind, rows, Query(() => df, out), tag = s"$i", after = () =>
          log += Map("step" -> i, "kind" -> kind, "out" -> out,
            "version" -> readVersion, "params" -> st.toString))
      }
      Some(kind match {
        case "upsert" =>
          val b = batch(ctx, rel.get)
          commit(st.get("rows").asLong)(
            SnapshotOps.upsert(s, table, b, "event_id", "date"))
        case "delete" =>
          val keys = s.read.parquet(batchPath.get)
          commit(st.get("rows").asLong)(
            SnapshotOps.delete(s, table, keys, "event_id"))
        case "append" =>
          val b = batch(ctx, rel.get)
          commit(st.get("rows").asLong)(SnapshotOps.append(s, table, b, "date"))
        case "compact" =>
          // every fragmented partition: the ones the round's commits touched
          commit(0L)(SnapshotOps.compact(s, table, maxFiles = 1))
        case "read_range" =>
          val lo = f"2024-01-${st.get("lo_day").asInt + 1}%02d"
          val hi = f"2024-01-${st.get("hi_day").asInt}%02d"
          val root = new Path(table)
          val all = Snapshot.filesOf(fs(ctx), root, version).size.toLong
          val kept = Snapshot.filesOfPruned(fs(ctx), root, version) { part =>
            val d = part.stripPrefix("date=")
            d >= lo && d <= hi
          }.size.toLong
          pruning(s"$i") = (kept, all)
          read(baseRows, version)(rollup(Snapshot.read(s, table)
            .filter(col("date").between(lo, hi))))
        case "point_lookup" =>
          val keys = Json.elems(st.get("keys")).map(_.asLong)
          read(baseRows, version)(Snapshot.read(s, table)
            .filter(col("event_id").isin(keys: _*)))
        case "read_at" =>
          val v = math.max(1L, version - st.get("back").asLong)
          read(baseRows, v)(rollup(Snapshot.readAt(s, table, v)))
      })
    }

  override def finish(ctx: Ctx): Unit = {
    val out = ctx.out("m_final")
    Snapshot.read(ctx.spark, table).write.mode("overwrite").parquet(out)
    checks += Map("mode" -> "replay", "kind" -> "snapshot", "op" -> "final",
      "base" -> s"${ctx.in}/events.parquet", "steps" -> log.toSeq,
      "final" -> out, "final_version" -> version)
  }

  override def extra(ctx: Ctx, timed: Seq[OpRec]): Map[String, Any] = {
    val commits = timed.filter(r => r.commit && r.ok)
    val batchBytes = commits.flatMap(r => batchOf.get(r.tag)).map(p =>
      Files.size(Paths.get(p))).sum
    val writtenBytes = commits.flatMap(r => written.get(r.tag)).map(_._1).sum
    val live = {
      val root = new Path(table)
      Snapshot.filesOf(fs(ctx), root, version)
        .map(f => Files.size(Paths.get(s"$table/$f"))).sum
    }
    val total = Workload.files(table).values.sum
    Map("write_amp" -> (if (batchBytes > 0) writtenBytes.toDouble / batchBytes else Double.NaN),
      "write_amp_base" -> "parquet bytes of the committed batch files",
      "batch_bytes" -> batchBytes, "written_bytes" -> writtenBytes,
      "space_amp" -> total.toDouble / live,
      "space_amp_base" -> "bytes of the live version's data files",
      "table_bytes" -> total, "live_bytes" -> live)
  }

}

/** Seeded event batches appended to a source directory; after each
  * append, `Follow.followContinue` drains the new rows to its sink.
  * Every few appends, two stateful drains run over the whole source.
  */
final class LogFollow(script: JsonNode) extends Workload {
  private val batches = Json.strings(script.get("batches"))
  private val drainEvery = script.get("drain_every").asInt
  private val baseRows = script.get("rows").asLong
  private val batchRows = script.get("batch_rows").asLong
  private var n = 0
  private var used = 0
  private var root: String = _

  val kinds: Set[String] = Set("follow", "sessionize", "visitors")

  private def src = s"$root/events.parquet"
  private def sink = s"$root/sink"
  private def ckpt = s"$root/checkpoint"

  def tables(ctx: Ctx): Seq[(String, String)] = Seq(root -> "events")

  def start(ctx: Ctx): Unit = {
    root = s"${ctx.work}/follow"
    Files.createDirectories(Paths.get(src))
    Files.copy(Paths.get(s"${ctx.in}/source/part-00000.parquet"),
      Paths.get(s"$src/part-00000.parquet"))
    Follow.followContinue(ctx.spark, src, ckpt, sink)
  }

  private def sources: Seq[String] = Workload.parquetFiles(src)

  def next(ctx: Ctx): Option[Op] = {
    val slot = n % (drainEvery + 2)
    val s = ctx.spark
    val i = n
    if (slot < drainEvery) {
      if (used >= batches.size) return None
      val b = batches(used)
      used += 1
      n += 1
      val name = b.stripPrefix("batches/")
      Some(Op("follow", batchRows, Action { () =>
        // atomic publish: Spark's file source skips dot-files
        val tmp = Paths.get(s"$src/.$name")
        Files.copy(Paths.get(s"${ctx.in}/$b"), tmp)
        Files.move(tmp, Paths.get(s"$src/$name"), StandardCopyOption.ATOMIC_MOVE)
        Follow.followContinue(s, src, ckpt, sink)
      }))
    } else {
      n += 1
      val files = sources
      val rows = baseRows + used * batchRows
      val out = ctx.out(s"f$i")
      val tables = Map("events" -> files)
      if (slot == drainEvery)
        Some(Op("sessionize", rows,
          Query(() => StreamOps.sessionizeStream(s, root), out),
          check = Some(Map("mode" -> "oracle", "out" -> out,
            "sql" -> Oracle.entry("sessionize_stream"), "tables" -> tables))))
      else
        Some(Op("visitors", rows,
          Query(() => LiveVisitors.trackVisitorsStream(s, root)
            .select("event_id", "remote_host", "visitor_id"), out),
          check = Some(Map("mode" -> "oracle", "out" -> out,
            "sql" -> Oracle.entry("track_visitors_stream"), "tables" -> tables))))
    }
  }

  override def finish(ctx: Ctx): Unit =
    checks += Map("mode" -> "follow", "kind" -> "follow", "op" -> "final",
      "out" -> sink, "sql" -> LogView.oracle(s"SELECT ${Oracle.logCols} FROM log"),
      "tables" -> Map("events" -> sources))
}
