package graft

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Progress collector for StreamProfile. Registered via the
  * `spark.sql.streaming.streamingQueryListeners` conf rather than
  * `spark.streams.addListener` because the harness twins start their
  * queries on CLONED sessions (`runToBatch`'s state-partition scoping),
  * each with its own StreamingQueryManager — the conf is inherited by
  * clones, so every manager instantiates one of these and all write to
  * the shared buffer.
  */
class ProfileListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    StreamProfile.started.incrementAndGet()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    StreamProfile.terminated.incrementAndGet()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val name = Option(e.progress.name).getOrElse(e.progress.id.toString)
    StreamProfile.record(name,
      e.progress.durationMs.asScala.map { case (k, v) => (k, v.toLong) }.toMap)
    // state-store footprint per batch (sums the batch's state operators):
    // memoryUsedBytes is the provider's loaded-store estimate, the number
    // that decides the on-heap vs RocksDB provider choice (BASELINE flip
    // rule) — recorded here so the crossover experiment can size executor
    // heap against MEASURED state instead of an input-bytes proxy
    val ops = e.progress.stateOperators
    if (ops.nonEmpty)
      StreamProfile.recordState(name,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsTotal).sum)
  }
}

/** Profiling main for the streaming micro-batch tail (VERDICT r13 #7):
  * runs selected streaming twins and decomposes each run's wall time into
  *   - the trigger phases Spark itself reports per micro-batch
  *     (`progress.durationMs`: addBatch = plan+execute the batch,
  *     queryPlanning, walCommit/commitOffsets = offset/commit-log fsyncs,
  *     getBatch/latestOffset; triggerExecution is the per-batch envelope)
  *   - query START overhead (start() returning to first-batch begin:
  *     stream-execution thread spin-up, source discovery, initial file
  *     listing) and STOP/drain — derived as wall minus the triggerExecution
  *     sum
  * so the family's floor is attributable: if start/stop and per-batch
  * fixed costs dominate while addBatch is small, the tail is machinery,
  * not plan cost, and the lever is batch COUNT, not plan shape.
  *
  * Usage: runMain graft.StreamProfile [comma-separated query names]
  * (defaults to a representative slice). Prints one JSON line per query
  * plus a phase-total summary. Profiling only — never a bench record.
  *
  * Bimodality mode (VERDICT r15 #3): SPARK_GRAFT_PROFILE_REPS=N runs
  * each query N times and emits one line PER REP with the per-batch
  * phase breakdown — the committed variance band showed same-HEAD
  * spreads up to 4.2x on four stream twins, discrete rather than
  * Gaussian, so the diagnostic is a batch-by-batch diff of a fast rep
  * against a slow one: an extra micro-batch names the trigger/source
  * race, a fat addBatch in batch 0 names listing/plan warmup, a fat
  * walCommit names commit-log fsync jitter.
  */
object StreamProfile {
  // JSON must be locale-independent: the f"%.3f" interpolator uses the
  // JVM default locale, which under a comma-decimal locale emits
  // unparseable "1,234" (ADVICE r14)
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private val batches =
    mutable.Map[String, mutable.Buffer[Map[String, Long]]]()
  private[graft] def record(name: String, durations: Map[String, Long]): Unit =
    batches.synchronized {
      batches.getOrElseUpdate(name, mutable.Buffer.empty) += durations
    }
  // per-batch (state memoryUsedBytes, numRowsTotal), same lifecycle as
  // `batches` (cleared per rep, read under the same lock)
  private val stateStats =
    mutable.Map[String, mutable.Buffer[(Long, Long)]]()

  /** Listener-bus drain barrier (ADVICE r16): progress events are
    * delivered ASYNCHRONOUSLY, so a rep's trailing events can land after
    * the next rep's clear — cross-contaminating exactly the per-batch
    * breakdowns the bimodality mode diagnoses. Every query a rep runs is
    * stopped synchronously before the rep returns, so its
    * QueryTerminatedEvent is POSTED by then; the bus is FIFO, so once
    * every posted termination has been DELIVERED (terminated == started),
    * all progress events preceding them have been too. Spin on the
    * counter pair with a bounded wait — a persistent background query
    * (none in this harness) would otherwise hang the barrier.
    */
  private[graft] val started = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val terminated = new java.util.concurrent.atomic.AtomicLong(0)
  private def drainListenerBus(timeoutMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (terminated.get() < started.get() && System.nanoTime() < deadline)
      Thread.sleep(10)
    if (terminated.get() < started.get())
      System.err.println(s"warning: listener bus not drained after ${timeoutMs}ms " +
        s"(started=${started.get()}, terminated=${terminated.get()}) — " +
        "per-rep attribution may bleed")
  }
  private[graft] def recordState(name: String, memBytes: Long, rows: Long): Unit =
    batches.synchronized {
      stateStats.getOrElseUpdate(name, mutable.Buffer.empty) += ((memBytes, rows))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val defaultSlice = Seq(
      "stream_join_outer", "stream_join", "stream_substring", "stream_transitions",
      "stream_hot_users", "stream_sessions_append", "stream_funnel", "stream_dedup",
      "stream_tumbling", "stream_json_sink", "stream_pii", "stream_bm25")
    val names = args.headOption.map(SparkEntry.selectQueries).getOrElse(defaultSlice)
    // a static conf, so it goes in before the session exists (see
    // ProfileListener for why a conf and not spark.streams.addListener)
    System.setProperty("spark.sql.streaming.streamingQueryListeners",
      classOf[ProfileListener].getName)
    val spark = GraftSession.build("graft-streamprofile", corpusDir = Some(sfDir))
    val queries = SparkEntry.queries

    // warmup: JIT the streaming machinery once at tiny scale
    names.foreach { n =>
      try queries(n)(spark, sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
        "/root/testdata/sf0.001")).count()
      catch { case e: Throwable => System.err.println(s"warmup $n: ${e.getMessage}") }
    }
    drainListenerBus()
    batches.synchronized(batches.clear())

    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt.max(1)
    val phaseTotals = mutable.Map[String, Double]().withDefaultValue(0.0)
    var wallTotal = 0.0
    names.foreach { n =>
      (1 to reps).foreach { rep =>
        // a rep owns everything recorded during it (the twin may run
        // several internal queries; clear-then-collect is exact)
        batches.synchronized { batches.clear(); stateStats.clear() }
        val t0 = System.nanoTime()
        queries(n)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // all of this rep's queries have stopped; wait for their events
        // to DELIVER before reading (and before the next rep clears)
        drainListenerBus()
        val mine = batches.synchronized(batches.values.flatten.toSeq)
        val (stateMemMax, stateRowsMax) = batches.synchronized {
          val all = stateStats.values.flatten
          if (all.isEmpty) (0L, 0L)
          else (all.map(_._1).max, all.map(_._2).max)
        }
        val phases = mine.flatMap(_.toSeq).groupBy(_._1)
          .map { case (k, vs) => (k, vs.map(_._2).sum / 1e3) }
        val inTrigger = phases.getOrElse("triggerExecution", 0.0)
        phases.foreach { case (k, v) => phaseTotals(k) += v }
        phaseTotals("START_STOP_RESIDUAL") += (wall - inTrigger)
        wallTotal += wall
        val ps = phases.toSeq.sortBy(-_._2)
          .map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")
        val perBatch = if (reps <= 1) "" else {
          val bs = mine.map { m =>
            m.toSeq.sortBy(-_._2).take(5)
              .map { case (k, v) => s""""$k":${fmt(v / 1e3)}""" }
              .mkString("{", ",", "}")
          }.mkString("[", ",", "]")
          s""","batches":$bs"""
        }
        println(s"""{"query":"$n","rep":$rep,"wall_sec":${fmt(wall)},"n_batches":${mine.size},"state_mem_max_bytes":$stateMemMax,"state_rows_max":$stateRowsMax,"residual_sec":${fmt(wall - inTrigger)},$ps$perBatch}""")
      }
    }
    val summary = phaseTotals.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")
    println(s"""{"summary":true,"n_queries":${names.size},"wall_total_sec":${fmt(wallTotal)},$summary}""")
    spark.stop()
  }
}
