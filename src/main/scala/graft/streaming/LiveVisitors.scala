package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables
import graft.logs.LogView

/** Live visitor tracking — the streaming counterpart of
  * [[graft.logs.Enrich.trackVisitors]] and the direct re-expression of
  * the reference's only stateful component
  * (client/VisitorTracker.hxx:16-27): per remote_host, keep
  * `last_seen` and a visit counter; a record continues the current
  * visit iff `timestamp < last_seen + 30min` (`CheckTimestamp` —
  * a gap of exactly 30 minutes starts a new visit).
  *
  * Spark-first shape: `groupByKey(remote_host)` +
  * `flatMapGroupsWithState` — the state store holds one (last_seen,
  * visit_seq) pair per host, exactly pond's `unordered_map<string,
  * Visitor>`, but partitioned across executors and checkpointed. With
  * `GroupStateTimeout.NoTimeout` state lives forever like pond's map;
  * a production deployment would use event-time timeout ≈ max_idle to
  * bound the store.
  */
object LiveVisitors {

  case class HostState(lastSeenUs: Long, visitSeq: Long)
  case class VisitorRow(event_id: Long, timestamp: Long,
                        remote_host: String, visit_seq: Long,
                        visitor_id: String)

  val maxIdleUs: Long = 30L * 60 * 1000000

  /** Per-host update function. Rows within one micro-batch are sorted
    * by (timestamp, event_id) before applying the reference's
    * last-seen rule, so a drained AvailableNow run is deterministic
    * and equal to the batch operator.
    */
  def updateHost(
      host: String,
      rows: Iterator[(Long, Long, String)],
      state: GroupState[HostState]): Iterator[VisitorRow] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    var st = state.getOption.getOrElse(HostState(Long.MinValue, 0L))
    val out = sorted.map { case (eventId, ts, _) =>
      val continues =
        st.visitSeq > 0 && ts < st.lastSeenUs + maxIdleUs // CheckTimestamp
      val seq = if (continues) st.visitSeq else st.visitSeq + 1
      st = HostState(ts, seq)
      VisitorRow(eventId, ts, host, seq,
        md5Hex(s"$host:$seq"))
    }
    state.update(st)
    out.iterator
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Build the streaming visitor query over the events stream and
    * drain it (AvailableNow) into a DataFrame.
    */
  def trackVisitorsStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    StreamOps.sizedForState(spark, derived = Some(
      StreamOps.derivedStateFor(spark, dir, "events"))) { child =>
      val stream = Tables.stream(child, dir, "events")
      val keyed: Dataset[(Long, Long, String)] = LogView.fromEvents(stream)
        .select(col("event_id"), col("timestamp"), col("remote_host"))
        .as[(Long, Long, String)]
      val tracked = keyed
        .groupByKey(_._3)
        .flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.NoTimeout())(updateHost)
      StreamOps.toMemory(spark, tracked.toDF(), "graft_live_visitors", "append")
    }
  }
}
