package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one op, summed over its jobs, stages and tasks. */
final class SparkCounters {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskRunMs, gcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, spillBytes = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
  var jobWallMs, idleSlotMs = 0L
  var exchanges, filesRead = 0L
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
}

/** The traced run's recorder: one SparkListener, one
  * QueryExecutionListener and one StreamingQueryListener, all
  * attributing what they see to the op the client is running. The
  * client drains the listener bus after each op, so every event of an
  * op is delivered while that op is still current.
  */
final class Tracer(spark: SparkSession, slots: Int) {
  @volatile private var current: String = null
  val counters = mutable.LinkedHashMap.empty[String, SparkCounters]
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobRun = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]

  private def cur: Option[SparkCounters] =
    Option(current).map(op => counters.getOrElseUpdate(op, new SparkCounters))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = cur.foreach { c =>
      c.jobs += 1
      jobStart(e.jobId) = e.time
      jobRun(e.jobId) = 0L
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      cur.foreach { c =>
        c.stages += 1
        val si = e.stageInfo
        spans += Map("type" -> "stage", "op" -> current,
          "job" -> stageJob.getOrElse(si.stageId, -1), "stage" -> si.stageId,
          "tasks" -> si.numTasks,
          "dur_ms" -> (si.completionTime.getOrElse(0L) -
            si.submissionTime.getOrElse(0L)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cur.foreach { c =>
      val m = e.taskMetrics
      if (m != null) {
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        stageJob.get(e.stageId).foreach(j =>
          jobRun(j) = jobRun.getOrElse(j, 0L) + m.executorRunTime)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = cur.foreach { c =>
      jobStart.remove(e.jobId).foreach { s =>
        val wall = e.time - s
        c.jobWallMs += wall
        c.idleSlotMs += math.max(0L, slots * wall - jobRun.getOrElse(e.jobId, 0L))
        spans += Map("type" -> "job", "op" -> current, "job" -> e.jobId,
          "dur_ms" -> wall)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = cur.foreach { c =>
      val nodes = Tracer.walk(qe.executedPlan)
      c.exchanges += nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike |
             _: ReusedExchangeExec => true
        case _ => false
      }
      c.filesRead += nodes.collect { case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      cur.foreach(_.progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Runs `body` as op `id`, draining the bus before and after. */
  def within[T](id: String)(body: => T): T = {
    drain()
    current = id
    try body
    finally {
      drain()
      current = null
    }
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  /** Every node of an executed plan, through AQE stages and writes. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => s +: walk(s.plan)
    case w: DataWritingCommandExec => w +: walk(w.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }
}
