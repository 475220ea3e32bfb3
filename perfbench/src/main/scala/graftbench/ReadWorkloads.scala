package graftbench

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.logs.{Enrich, LogFilter, LogView, Shaping}
import graft.pipeline.{Ann, Dedup}

/** Oracle SQL, taken from the program's own gate definitions
  * (`SparkEntry.oracleSql`) and re-targeted at a filtered log.
  */
object Oracle {
  val logCols: String = LogView.columns.mkString(", ")

  def entry(name: String): String =
    SparkEntry.oracleSql.getOrElse(name,
      throw new IllegalStateException(s"no oracle SQL for $name"))

  /** The SELECT of a `LogView.oracle` gate, without the log CTE. */
  def logSelect(name: String): String = {
    val sql = entry(name)
    val prefix = LogView.sqlCte + "\n"
    require(sql.startsWith(prefix), s"$name is not a LogView oracle")
    sql.substring(prefix.length)
  }

  /** `select` over the log rows that satisfy `where`. */
  def filtered(where: String, select: String): String = {
    val head = "WITH log AS ("
    require(LogView.sqlCte.startsWith(head))
    "WITH log_all AS (" + LogView.sqlCte.substring(head.length) +
      s",\nlog AS (SELECT * FROM log_all WHERE $where)\n" + select
  }
}

/** pond's client verbs over `LogView`, each over a seeded filter. */
final class LogQuery(script: JsonNode) extends Workload {
  private val ops = Json.elems(script.get("ops"))
  private val rows = script.get("rows").asLong
  private var cursor = 0

  val kinds: Set[String] = ops.map(_.get("verb").asText).toSet

  def tables(ctx: Ctx): Seq[(String, String)] = Seq(ctx.in -> "events")

  def start(ctx: Ctx): Unit = {
    Tables.events(ctx.spark, ctx.in).schema
  }

  def next(ctx: Ctx): Option[Op] =
    if (cursor >= ops.size) None
    else {
      val o = ops(cursor)
      cursor += 1
      val verb = o.get("verb").asText
      val f = o.get("filter")
      val out = ctx.out(s"q${cursor - 1}")
      val s = ctx.spark
      Some(Op(verb, rows,
        Query(() => LogQuery.verb(verb, s,
          LogView(s, ctx.in).filter(LogQuery.filter(f).predicate)), out),
        check = Some(Map("mode" -> "oracle", "out" -> out,
          "sql" -> Oracle.filtered(LogQuery.where(f), LogQuery.select(verb)),
          "tables" -> Map("events" -> Seq(s"${ctx.in}/events.parquet"))))))
    }
}

object LogQuery {
  def verb(name: String, s: org.apache.spark.sql.SparkSession,
           df: DataFrame): DataFrame = name match {
    case "window" => Shaping.window(df, max = 100, skip = 50)
    case "last" => Shaping.last(df)
    case "group_site" => Shaping.groupSite(df, max = 3, skip = 2)
    case "accumulate_top" => Shaping.accumulateTop(df, "remote_host", 10)
    case "stats" => Shaping.stats(df)
    case "timeseries" => Shaping.timeseries(df)
    case "jsonl" => Shaping.jsonl(df).orderBy("event_id")
    case "track_visitors" =>
      Enrich.trackVisitors(df).select(col("event_id"), col("timestamp"),
        col("remote_host"), col("visitor_id")).orderBy("event_id")
    case "anonymize_ip" =>
      Enrich.anonymize(df).select("event_id", "remote_host").orderBy("event_id")
    case "geoip" =>
      Enrich.geoip(s, df).select("event_id", "remote_host", "country")
        .orderBy("event_id")
  }

  /** The oracle SELECT over `log` for each verb, matching [[verb]]. */
  def select(name: String): String = name match {
    case "window" =>
      s"SELECT ${Oracle.logCols} FROM log ORDER BY timestamp, event_id " +
        "LIMIT 100 OFFSET 50"
    case "last" =>
      s"SELECT ${Oracle.logCols} FROM log " +
        "ORDER BY timestamp DESC, event_id DESC LIMIT 1"
    case "jsonl" =>
      // the gate entry renders site_1 only; the verb here renders all
      // rows the seeded filter keeps
      val sql = Oracle.logSelect("jsonl")
      val site = " WHERE site = 'site_1'"
      require(sql.contains(site))
      sql.replace(site, "")
    case other => Oracle.logSelect(other)
  }

  private def strs(n: JsonNode, k: String): Set[String] =
    Json.strings(n.get(k)).toSet

  private def long(n: JsonNode, k: String): Option[Long] =
    Option(n.get(k)).map(_.asLong)

  private def str(n: JsonNode, k: String): Option[String] =
    Option(n.get(k)).map(_.asText)

  def filter(n: JsonNode): LogFilter = {
    val st = Json.elems(n.get("status")).map(_.asInt)
    LogFilter(
      sites = strs(n, "sites"), hosts = strs(n, "hosts"),
      sinceUs = long(n, "since_us"), untilUs = long(n, "until_us"),
      statusBegin = st.headOption.getOrElse(0),
      statusEnd = st.lift(1).getOrElse(0xffff),
      uriPrefix = str(n, "uri_prefix"),
      userAgentContains = str(n, "user_agent"))
  }

  /** [[filter]]'s predicate as DuckDB SQL over the log view. */
  def where(n: JsonNode): String = {
    def in(c: String, xs: Set[String]) =
      if (xs.isEmpty) None
      else Some(xs.toSeq.sorted.map(x => s"'$x'").mkString(s"$c IN (", ", ", ")"))
    val st = Json.elems(n.get("status")).map(_.asInt)
    Seq(
      in("site", strs(n, "sites")), in("host", strs(n, "hosts")),
      long(n, "since_us").map(v => s"timestamp >= $v"),
      long(n, "until_us").map(v => s"timestamp <= $v"),
      if (st.isEmpty) None else Some(s"status >= ${st(0)} AND status < ${st(1)}"),
      str(n, "uri_prefix").map(p => s"starts_with(uri, '$p')"),
      str(n, "user_agent").map(u => s"contains(user_agent, '$u')")
    ).flatten.reduceOption(_ + " AND " + _).getOrElse("TRUE")
  }
}

/** The near-dup and ANN pipeline over the generated corpus, one
  * full-corpus job per op, kinds in a fixed rotation.
  */
final class CorpusDedup(script: JsonNode) extends Workload {
  private val rows = script.get("rows").asLong
  private val rotation =
    Seq("lsh_pairs", "clusters", "keep", "knn_join", "keep_cdc")
  private var n = 0

  val kinds: Set[String] = rotation.toSet

  def tables(ctx: Ctx): Seq[(String, String)] =
    Seq(ctx.in -> "documents", ctx.in -> "embeddings")

  def start(ctx: Ctx): Unit = {
    Tables.documents(ctx.spark, ctx.in).schema
    Tables.embeddings(ctx.spark, ctx.in).schema
  }

  def next(ctx: Ctx): Option[Op] = {
    val kind = rotation(n % rotation.size)
    val out = ctx.out(s"c$n")
    n += 1
    val s = ctx.spark
    val d = ctx.in
    val tables = Map("documents" -> Seq(s"$d/documents.parquet"),
      "embeddings" -> Seq(s"$d/embeddings.parquet"))
    def oracle(name: String) = Some(Map("mode" -> "oracle", "out" -> out,
      "sql" -> Oracle.entry(name), "tables" -> tables))
    val (build, check): (() => DataFrame, Option[Map[String, Any]]) = kind match {
      case "lsh_pairs" =>
        (() => Dedup.lshJaccardPairs(s, d, minBp = 6500), oracle("dedup_lsh_verify"))
      case "clusters" => (() => Dedup.clusters(s, d), oracle("dedup_clusters"))
      case "keep" =>
        (() => Dedup.keepDrop(s, d, includeCdc = false, embIvf = false),
          oracle("dedup_keep"))
      case "knn_join" => (() => Ann.knnJoinGate(s, d), oracle("knn_join"))
      case "keep_cdc" =>
        // no oracle for the CDC rolling hash: CDC edges may only merge
        // components, so the keep set can only shrink
        (() => Dedup.keepDrop(s, d, includeCdc = true, embIvf = false),
          Some(Map("mode" -> "keep_subset", "out" -> out,
            "sql" -> Oracle.entry("dedup_keep"), "tables" -> tables)))
    }
    Some(Op(kind, rows, Query(build, out), check = check))
  }
}
