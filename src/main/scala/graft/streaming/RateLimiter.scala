package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables
import graft.logs.LogView

/** `per_site_message_rate_limit` with pond's server semantics —
  * a per-site token bucket (reference src/Database.hxx:53,66
  * `PerSite.rate_limiter` / `CheckRateLimit`, configured at
  * src/Database.cxx:31-35 as `rate` tokens/sec with
  * `burst = 10 * rate`). The batch operator
  * [[graft.logs.Shaping.rateLimit]] is the declarative n-per-bucket
  * approximation; this is the exact stateful rule, as a streaming
  * `flatMapGroupsWithState` keyed by site — the same shape pond's
  * in-memory `PerSite` map takes when distributed.
  *
  * Like the server (Database.cxx:107-135 `IsMessage` /
  * `CheckEmplace`), the bucket applies only to MESSAGE records
  * (`type = http_error`) with a non-null site; every other record is
  * "not affected by the rate limit" and passes through. One
  * documented deviation: pond clocks refills with steady-clock
  * arrival time; a replayable engine uses event time.
  *
  * Bucket rule per record (event time, µs): refill
  * `tokens = min(burst, tokens + Δt_sec * rate)`, accept iff
  * `tokens >= 1` (then consume one).
  */
object RateLimiter {

  case class BucketState(tokens: Double, lastUs: Long)
  case class Accepted(event_id: Long, timestamp: Long, site: String)

  def updateSite(rate: Double, burst: Double)(
      site: String,
      rows: Iterator[(Long, Long, String)],
      state: GroupState[BucketState]): Iterator[Accepted] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
    var st = state.getOption.getOrElse(BucketState(burst, Long.MinValue))
    val out = Seq.newBuilder[Accepted]
    sorted.foreach { case (eventId, ts, _) =>
      val refilled =
        if (st.lastUs == Long.MinValue) burst
        else math.min(burst, st.tokens + (ts - st.lastUs) / 1e6 * rate)
      if (refilled >= 1.0) {
        st = BucketState(refilled - 1.0, ts)
        out += Accepted(eventId, ts, site)
      } else {
        st = BucketState(refilled, ts)
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** Reference implementation of the same rule over an in-order row
    * seq — shared by tests to check the distributed result.
    */
  def referenceAccept(rows: Seq[(Long, Long)], rate: Double,
                      burst: Double): Seq[Long] = {
    var tokens = burst
    var last = Long.MinValue
    rows.sortBy(r => (r._2, r._1)).flatMap { case (id, ts) =>
      val refilled =
        if (last == Long.MinValue) burst
        else math.min(burst, tokens + (ts - last) / 1e6 * rate)
      last = ts
      if (refilled >= 1.0) { tokens = refilled - 1.0; Some(id) }
      else { tokens = refilled; None }
    }
  }

  /** Drain the streaming limiter over the events table. `rate` is
    * messages/sec; burst defaults to pond's `10 * rate`.
    */
  def rateLimitStream(spark: SparkSession, dir: String,
                      rate: Double, burstOpt: Option[Double] = None): DataFrame = {
    import spark.implicits._
    val burst = burstOpt.getOrElse(10 * rate)
    // IsMessage guard (Database.cxx:107-115): only http_error records
    // with a site are subject to the bucket
    val isMessage = col("type") === "http_error" && col("site").isNotNull
    StreamOps.sizedForState(spark, derived = Some(
      StreamOps.derivedStateFor(spark, dir, "events"))) { child =>
      val logs = LogView.fromEvents(Tables.stream(child, dir, "events"))
        .select(col("event_id"), col("timestamp"), col("site"), col("type"))
      val keyed: Dataset[(Long, Long, String)] = logs.filter(isMessage)
        .drop("type").as[(Long, Long, String)]
      val limited = keyed
        .groupByKey(_._3)
        .flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          updateSite(rate, burst))
      val passthrough = logs.filter(!isMessage).drop("type")
        .as[(Long, Long, String)]
        .map(r => Accepted(r._1, r._2, r._3))
      StreamOps.toMemory(spark, limited.union(passthrough).toDF(),
        "graft_rate_limit", "append")
    }.orderBy("timestamp", "event_id")
  }
}
