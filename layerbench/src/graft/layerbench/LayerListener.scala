package graft.layerbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run records between two [[LayerListener.take]]
  * calls. Times are epoch milliseconds, as Spark stamps its events.
  */
final case class JobRec(id: Int, start: Long, end: Long, stageIds: Seq[Int],
                        sqlExec: Option[Long])
final case class StageRec(id: Int, attempt: Int, submit: Long, complete: Long)
final case class SqlRec(id: Long, root: Long, start: Long, end: Long)
final case class TriggerRec(runId: String, start: Long, durations: Map[String, Long],
                            stateRows: Long, stateBytes: Long)
final case class StreamRec(runId: String, start: Long, end: Long)

final class Events {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val openJobs = mutable.Map[Int, (Long, Seq[Int], Option[Long])]()
  val stages = mutable.ArrayBuffer[StageRec]()
  val sql = mutable.ArrayBuffer[SqlRec]()
  val openSql = mutable.Map[Long, (Long, Long)]()
  val triggers = mutable.ArrayBuffer[TriggerRec]()
  val streams = mutable.ArrayBuffer[StreamRec]()
  val openStreams = mutable.Map[String, Long]()
  var aqeUpdates = 0L
  // task totals (ms unless named otherwise)
  val task = mutable.Map[String, Double]().withDefaultValue(0.0)
  // Spark's analysis / optimization / planning phases (ms), from the
  // QueryExecutionListener of every session, cloned ones included
  val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
  var blockPeakBytes = 0L
}

/** The benchmark's own listener. Attached from outside the engine: jobs,
  * stages, tasks and their metrics, block updates, and through
  * `onOtherEvent` the SQL-execution, AQE and streaming-progress events of
  * every session on the context (the streaming twins run in sessions they
  * clone, which share this bus).
  */
final class LayerListener extends SparkListener {
  /** Off during the untraced passes of a traced run: every handler but the
    * block tracker returns at once, so those passes price the run without
    * the recording work.
    */
  @volatile var recording = true
  private var ev = new Events
  private val blocks = mutable.Map[String, Long]()
  private var blockBytes = 0L

  /** Return what was recorded since the last call and start afresh. Open
    * jobs, SQL executions and streams carry over; the block peak restarts
    * from the bytes resident now.
    */
  def take(): Events = synchronized {
    val out = ev
    ev = new Events
    ev.openJobs ++= out.openJobs
    ev.openSql ++= out.openSql
    ev.openStreams ++= out.openStreams
    ev.blockPeakBytes = blockBytes
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    ev.openJobs(e.jobId) = (e.time, e.stageIds, exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) synchronized {
    ev.openJobs.remove(e.jobId).foreach { case (start, stages, exec) =>
      ev.jobs += JobRec(e.jobId, start, e.time, stages, exec)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) synchronized {
    val i = e.stageInfo
    ev.stages += StageRec(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) synchronized {
    val t = ev.task
    t("tasks") += 1
    if (!e.taskInfo.successful) t("tasks_failed") += 1
    t("busy_ms") += (e.taskInfo.finishTime - e.taskInfo.launchTime).toDouble
    val m = e.taskMetrics
    if (m != null) {
      t("run_ms") += m.executorRunTime.toDouble
      t("cpu_ns") += m.executorCpuTime.toDouble
      t("gc_ms") += m.jvmGCTime.toDouble
      t("deser_ms") += m.executorDeserializeTime.toDouble
      t("input_bytes") += m.inputMetrics.bytesRead.toDouble
      t("input_records") += m.inputMetrics.recordsRead.toDouble
      t("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
      t("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead.toDouble
      t("shuffle_read_records") += m.shuffleReadMetrics.recordsRead.toDouble
      t("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime.toDouble
      t("spill_disk_bytes") += m.diskBytesSpilled.toDouble
      t("spill_mem_bytes") += m.memoryBytesSpilled.toDouble
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    blockBytes += size - blocks.getOrElse(key, 0L)
    if (size > 0) blocks(key) = size else blocks.remove(key)
    ev.blockPeakBytes = ev.blockPeakBytes.max(blockBytes)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (recording) synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        ev.openSql(s.executionId) = (s.rootExecutionId.getOrElse(s.executionId), s.time)
      case s: SparkListenerSQLExecutionEnd =>
        ev.openSql.remove(s.executionId).foreach { case (root, start) =>
          ev.sql += SqlRec(s.executionId, root, start, s.time)
        }
      case _: SparkListenerSQLAdaptiveExecutionUpdate => ev.aqeUpdates += 1
      case s: StreamingQueryListener.QueryStartedEvent =>
        ev.openStreams(s.runId.toString) = java.time.Instant.parse(s.timestamp).toEpochMilli
      case s: StreamingQueryListener.QueryProgressEvent =>
        val p = s.progress
        ev.triggers += TriggerRec(p.runId.toString,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      case s: StreamingQueryListener.QueryTerminatedEvent =>
        // the terminated event carries no time stamp: the bus delivers it
        // within milliseconds of the stop, so its arrival time stands in
        val run = s.runId.toString
        ev.openStreams.remove(run).foreach { start =>
          ev.streams += StreamRec(run, start, System.currentTimeMillis())
        }
      case _ => ()
    }
  }

  private[layerbench] def onPhases(qe: QueryExecution): Unit = if (recording) synchronized {
    qe.tracker.phases.foreach { case (phase, s) => ev.phases(phase) += s.durationMs.toDouble }
  }
}

object LayerListener {
  /** The listener the current traced run feeds, or null when tracing is off. */
  @volatile var active: LayerListener = null
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session the run creates — including the clones the streaming twins
  * build — loads one; all of them forward to [[LayerListener.active]].
  */
final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(LayerListener.active).foreach(_.onPhases(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(LayerListener.active).foreach(_.onPhases(qe))
}
