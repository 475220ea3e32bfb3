package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a run works against: its session, inputs and work directory. */
final class Ctx(val spark: SparkSession, val in: String, val work: String) {
  def out(name: String): String = s"$work/out/$name"
}

/** The timed body of an op. A [[Query]] builds a DataFrame (build),
  * is planned (plan, forced separately only when tracing) and written
  * as parquet to the op's output directory (exec). An [[Action]] is a
  * call that does its own writing: a commit, a follow, a drain.
  */
sealed trait Body
final case class Query(build: () => DataFrame, out: String) extends Body
final case class Action(run: () => Unit) extends Body

/** One op of a workload's seeded script.
  *
  * @param rows  input rows (events or documents) the op processes
  * @param check what the correctness pass compares the op's output to
  * @param after untimed bookkeeping once the op has returned
  * @param tag   the workload's own key for the op (its script step)
  */
final case class Op(kind: String, rows: Long, body: Body,
                    commit: Boolean = false,
                    check: Option[Map[String, Any]] = None,
                    after: () => Unit = () => (),
                    tag: String = "")

trait Workload {
  /** The op kinds of the script; set-up calls each once. */
  def kinds: Set[String]

  /** Loads the run's tables: the part of set-up before the first call
    * of each op kind.
    */
  def start(ctx: Ctx): Unit

  /** The next op of the script, or None when the script is used up. */
  def next(ctx: Ctx): Option[Op]

  /** Untimed, after the last op: outputs the final-state checks need. */
  def finish(ctx: Ctx): Unit = ()

  /** Correctness checks of the run's ops, in op order. */
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Workload-specific end-to-end figures over the timed ops. */
  def extra(ctx: Ctx, timed: Seq[OpRec]): Map[String, Any] = Map.empty

  /** Tables `tables.scan_ms` times a `Tables.load` of: (dir, name). */
  def tables(ctx: Ctx): Seq[(String, String)]
}

object Workload {
  def apply(name: String, script: com.fasterxml.jackson.databind.JsonNode): Workload =
    name match {
      case "log_query" => new LogQuery(script)
      case "corpus_dedup" => new CorpusDedup(script)
      case "table_mutation" => new TableMutation(script)
      case "log_follow" => new LogFollow(script)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Bytes of every regular file under `root`, by path. */
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        val out = Map.newBuilder[String, Long]
        s.filter(f => Files.isRegularFile(f))
          .forEach(f => out += f.toString -> Files.size(f))
        out.result()
      } finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median of `n` timed runs of `body`, in ms. */
  def timeMs(n: Int)(body: => Unit): Double =
    median((1 to n).map { _ =>
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e6
    })

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def parquetFiles(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    val s = Files.list(p)
    try {
      val b = Seq.newBuilder[String]
      s.forEach { f =>
        val n = f.getFileName.toString
        if (n.endsWith(".parquet") && !n.startsWith(".")) b += f.toString
      }
      b.result().sorted
    } finally s.close()
  }
}
