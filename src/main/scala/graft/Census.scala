package graft

import java.lang.management.ManagementFactory

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{CensusBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The engine's one census: a listener on the context's bus that records
  * jobs, stages, task metrics, SQL executions, AQE re-plans and streaming
  * progress between two [[take]] calls. Streaming events arrive through
  * `onOtherEvent`, so the streams a query starts on a cloned session
  * (`runToBatch` scopes its state partitions that way) are seen too: every
  * session of a context posts to the same bus.
  *
  * `graft.Bench` attaches it and writes one [[run]] row per query per
  * rep. Sessions built by [[GraftSession.build]] carry no listener.
  */
final class Census extends SparkListener {
  import Census._

  private var ev = new Events

  /** One timed rep of a query, as Bench runs it: the timed region is
    * `construct` plus a `count()` of its frame. Store use is counted under
    * the label `name#rep`. Outside the timed region the bus is drained and
    * the rep's events taken, so the row holds this rep and nothing else.
    */
  def run(sc: SparkContext, name: String, rep: Int)(construct: => DataFrame): Measured = {
    val (up0, ms0) = (uptimeMs, System.currentTimeMillis())
    var (t0, t1, t2) = (0L, 0L, 0L)
    var result: Either[Throwable, DataFrame] = null
    val store = storeUse(s"$name#$rep") {
      t0 = System.nanoTime()
      result =
        try {
          val df = construct
          t1 = System.nanoTime()
          df.count()
          Right(df)
        } catch { case e: Throwable => Left(e) }
      t2 = System.nanoTime()
    }
    if (t1 == 0L) t1 = t2
    val (ms2, up2) = (System.currentTimeMillis(), uptimeMs)
    val wallS = (t2 - t0) / 1e9
    val head = VectorMap[String, Any]("query" -> name, "rep" -> rep) ++
      result.left.toOption.map(e => "error" -> message(e)) ++
      VectorMap("wall_s" -> wallS, "construct_s" -> (t1 - t0) / 1e9,
        "action_s" -> (t2 - t1) / 1e9, "uptime_s" -> Seq(up0 / 1e3, up2 / 1e3))
    Measured(wallS, result, head ++ row(wallS, ms0, ms2, take(sc), store))
  }

  /** Waits until every event posted so far is delivered, then returns
    * what was recorded since the last call and starts afresh. A job still
    * open carries over, so its end and its tasks land in the next window.
    */
  def take(sc: SparkContext): Events = {
    CensusBus.drain(sc)
    synchronized {
      val out = ev
      ev = new Events
      out.jobs.values.filter(_.open).foreach(j => ev.jobs(j.id) = j)
      ev.stageJob ++= out.stageJob.filter { case (_, j) => ev.jobs.contains(j) }
      out
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    ev.jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds.size, 0, 0L, 0L)
    e.stageIds.foreach(ev.stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ev.jobs.get(e.jobId).foreach(j => ev.jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { ev.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    ev.tasks += 1
    if (!e.taskInfo.successful && !e.taskInfo.killed) ev.tasksFailed += 1
    val m = e.taskMetrics
    val (read, written) =
      if (m == null) (0L, 0L)
      else {
        ev.runMs += m.executorRunTime
        ev.cpuNs += m.executorCpuTime
        ev.gcMs += m.jvmGCTime
        ev.spillDiskBytes += m.diskBytesSpilled
        ev.spillMemBytes += m.memoryBytesSpilled
        (m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
      }
    ev.shuffleReadBytes += read
    ev.shuffleWriteBytes += written
    for (id <- ev.stageJob.get(e.stageId); j <- ev.jobs.get(id))
      ev.jobs(id) = j.copy(tasks = j.tasks + 1, shuffleReadBytes = j.shuffleReadBytes + read,
        shuffleWriteBytes = j.shuffleWriteBytes + written)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case _: SparkListenerSQLExecutionStart => ev.sqlExecutions += 1
      case _: SparkListenerSQLAdaptiveExecutionUpdate => ev.aqeReplans += 1
      case _: StreamingQueryListener.QueryStartedEvent => ev.streams += 1
      case s: StreamingQueryListener.QueryProgressEvent =>
        val p = s.progress
        ev.batches += Batch(
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      case _ => ()
    }
  }
}

object Census {

  /** A rep's wall seconds, its frame or error, and its row. */
  final case class Measured(wallS: Double, result: Either[Throwable, DataFrame],
                            row: VectorMap[String, Any])

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(200)

  private def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** A job as the census saw it: epoch-millisecond stamps (`end` is -1
    * while it runs), the stages it lists (skipped ones included), and the
    * tasks and shuffle bytes of its stages.
    */
  final case class Job(id: Int, start: Long, end: Long, stages: Int, tasks: Int,
                       shuffleReadBytes: Long, shuffleWriteBytes: Long) {
    def open: Boolean = end < 0
  }

  /** One micro-batch: Spark's per-phase durations (ms) and the state its
    * operators held after it.
    */
  final case class Batch(durationsMs: Map[String, Long], stateRows: Long, stateBytes: Long)

  /** What one window recorded. Written under the census's lock only. */
  final class Events {
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageJob = mutable.Map[Int, Int]()
    var stages, tasks, tasksFailed, sqlExecutions, aqeReplans, streams = 0
    var runMs, cpuNs, gcMs, shuffleReadBytes, shuffleWriteBytes = 0L
    var spillDiskBytes, spillMemBytes = 0L
    val batches = mutable.ArrayBuffer[Batch]()
  }

  final case class StoreUse(builds: Int, hits: Int)

  /** Runs `body` as `consumer` ([[ArtifactStore.currentConsumer]]) and
    * counts its store use from the stores' key and consumer registries,
    * snapshotted around it: a new live key is a build, and a slot the
    * consumer accessed with no new key is a hit. A consumer label counts
    * a slot once, so each run needs its own label.
    */
  private def storeUse(consumer: String)(body: => Unit): StoreUse = {
    def live = ArtifactStore.all.flatMap(s => s.liveKeys.map(k => (s.name, k._1, k._2))).toSet
    def touched = ArtifactStore.all.flatMap { s =>
      s.consumersBySlot.collect { case (slot, cs) if cs(consumer) => (s.name, slot) }
    }.toSet
    val (live0, touched0) = (live, touched)
    ArtifactStore.currentConsumer.set(consumer)
    try body finally ArtifactStore.currentConsumer.remove()
    val builtSlots = (live -- live0).map(k => (k._1, k._2))
    StoreUse((live -- live0).size, (touched -- touched0 -- builtSlots).size)
  }

  /** Length of the union of the intervals, each clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = s0.max(reach)
      val e = e0.min(hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }

  private val MB = 1024.0 * 1024.0

  /** The census half of a rep's row, keyed by BENCHMARK.json's
    * `per_layer` names where one fits. The rep ran from `startMs` to
    * `endMs` (the jobs' epoch clock). `sched.outside_jobs_s` is the wall
    * time minus `sched.job_s`, the union of the rep's job intervals;
    * `stream.residual_s` is the wall time minus the summed trigger time
    * (stream start, stop and the batch work around them), 0 with no stream.
    */
  private def row(wallS: Double, startMs: Long, endMs: Long, ev: Events,
                  store: StoreUse): VectorMap[String, Any] = {
    val jobs = ev.jobs.values.toSeq
    val jobS = unionLength(jobs.filterNot(_.open).map(j => (j.start, j.end)),
      startMs, endMs) / 1e3
    def phaseS(k: String) = ev.batches.map(_.durationsMs.getOrElse(k, 0L)).sum / 1e3
    val triggerS = phaseS("triggerExecution")
    val batches = ev.batches.toSeq
    VectorMap[String, Any](
      "sched.jobs" -> jobs.size, "sched.stages" -> ev.stages, "sched.tasks" -> ev.tasks,
      "sched.tasks_failed" -> ev.tasksFailed, "sched.open_jobs" -> jobs.count(_.open),
      "sched.job_s" -> jobS, "sched.outside_jobs_s" -> (wallS - jobS),
      "exec.run_s" -> ev.runMs / 1e3, "exec.cpu_s" -> ev.cpuNs / 1e9, "exec.gc_s" -> ev.gcMs / 1e3,
      "shuffle.write_mb" -> ev.shuffleWriteBytes / MB, "shuffle.read_mb" -> ev.shuffleReadBytes / MB,
      "spill.disk_mb" -> ev.spillDiskBytes / MB, "spill.mem_mb" -> ev.spillMemBytes / MB,
      "store.builds" -> store.builds, "store.hits" -> store.hits,
      "sql.executions" -> ev.sqlExecutions, "sql.aqe_replans" -> ev.aqeReplans,
      "stream.queries" -> ev.streams, "stream.batches" -> batches.size,
      "stream.trigger_s" -> triggerS, "stream.add_batch_s" -> phaseS("addBatch"),
      "stream.state_rows_peak" -> (0L +: batches.map(_.stateRows)).max,
      "stream.state_mb_peak" -> (0L +: batches.map(_.stateBytes)).max / MB,
      "stream.residual_s" -> (if (ev.streams > 0) wallS - triggerS else 0.0)) ++
      (if (batches.isEmpty) Nil else Seq("stream.batch_phases_s" -> batches.map { b =>
        VectorMap.from(b.durationsMs.toSeq.sortBy(-_._2).map { case (k, v) => k -> v / 1e3 }) ++
          VectorMap("state_rows" -> b.stateRows, "state_mb" -> b.stateBytes / MB)
      })) ++
      VectorMap("jobs" -> jobs.map { j =>
        VectorMap[String, Any]("id" -> j.id, "ms" -> (if (j.open) 0L else j.end - j.start),
          "stages" -> j.stages, "tasks" -> j.tasks,
          "shuffle_read_bytes" -> j.shuffleReadBytes, "shuffle_write_bytes" -> j.shuffleWriteBytes)
      })
  }
}
