package graft.layerbench

import scala.collection.mutable

/** One timed query of a pass, as the driver thread saw it. Times are epoch
  * milliseconds.
  */
final case class Sample(pass: Int, name: String, start: Double, built: Double, end: Double,
                        store: StoreProbe.Use) {
  def constructS: Double = (built - start) / 1e3
  def actionS: Double = (end - built) / 1e3
  def wallS: Double = (end - start) / 1e3
}

/** A span of the traced record. `parent` is -1 for a pass. */
final case class Span(id: Int, parent: Int, kind: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Interval arithmetic, span assembly and the per-pass layer totals of a
  * traced pass.
  */
object Layers {

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def unionLength(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, reach = 0.0
    var open = false
    for ((s0, e0) <- iv.toSeq.sortBy(_._1)) {
      val s = s0.max(lo)
      val e = e0.min(hi)
      if (e > s) {
        if (!open || s > reach) { total += e - s; reach = e; open = true }
        else if (e > reach) { total += e - reach; reach = e }
      }
    }
    total
  }

  /** Pass → query → construct/action → SQL execution → job → stage, and
    * stream query → trigger. A listener span hangs under the innermost
    * driver phase that was running when it started; Spark stamps events in
    * whole milliseconds, hence the one-millisecond slack.
    */
  def spans(passIdx: Int, passStart: Double, passEnd: Double, samples: Seq[Sample],
            ev: Events): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    def add(parent: Int, kind: String, name: String, s: Double, e: Double): Int = {
      out += Span(out.size, parent, kind, name, s, e); out.size - 1
    }
    val pass = add(-1, "pass", s"pass$passIdx", passStart, passEnd)
    val phases = mutable.ArrayBuffer[Span]()
    samples.foreach { q =>
      val qi = add(pass, "query", q.name, q.start, q.end)
      phases += out(add(qi, "construct", q.name, q.start, q.built))
      phases += out(add(qi, "action", q.name, q.built, q.end))
    }
    def phaseAt(t: Double): Int =
      phases.find(p => t >= p.start - 1 && t <= p.end).map(_.id).getOrElse(pass)
    val sqlIds = mutable.Map[Long, Int]()
    ev.sql.sortBy(_.id).foreach { s =>
      val parent = if (s.root != s.id) sqlIds.getOrElse(s.root, phaseAt(s.start)) else phaseAt(s.start)
      sqlIds(s.id) = add(parent, "sql", s"exec${s.id}", s.start, s.end)
    }
    val stageParent = mutable.Map[Int, Int]()
    ev.jobs.sortBy(_.id).foreach { j =>
      val parent = j.sqlExec.flatMap(sqlIds.get).getOrElse(phaseAt(j.start))
      val ji = add(parent, "job", s"job${j.id}", j.start, j.end)
      j.stageIds.foreach(stageParent.getOrElseUpdate(_, ji))
    }
    ev.stages.foreach { st =>
      stageParent.get(st.id).foreach { p =>
        add(p, "stage", s"stage${st.id}.${st.attempt}", st.submit, st.complete)
      }
    }
    val streamIds = mutable.Map[String, Int]()
    ev.streams.foreach { s =>
      streamIds(s.runId) = add(phaseAt(s.start), "stream", s.runId, s.start, s.end)
    }
    ev.triggers.foreach { t =>
      val d = t.durations.getOrElse("triggerExecution", 0L).toDouble
      add(streamIds.getOrElse(t.runId, phaseAt(t.start)), "trigger", t.runId, t.start, t.start + d)
    }
    out.toSeq
  }

  /** Per span kind: count, total seconds, and self seconds — a span's
    * time less the union of its children's.
    */
  def selfTimes(spans: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      val self = ss.map { s =>
        s.dur - unionLength(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      }.sum
      kind -> ((ss.size, ss.map(_.dur).sum / 1e3, self / 1e3))
    }
  }

  private val MB = 1024.0 * 1024.0

  /** The per-layer totals of one traced pass. */
  def passTotals(passStart: Double, passEnd: Double, samples: Seq[Sample], ev: Events,
                 cores: Int, jvm: Map[String, Double], liveEntries: Int): Map[String, Double] = {
    val wall = (passEnd - passStart) / 1e3
    val jobIv = ev.jobs.map(j => (j.start.toDouble, j.end.toDouble))
    val jobS = unionLength(jobIv, passStart, passEnd) / 1e3
    val constructIv = samples.map(q => (q.start, q.built))
    val constructJobs = ev.jobs.count(j => constructIv.exists { case (s, e) => j.start >= s - 1 && j.start <= e })
    val t = ev.task
    val runS = t("run_ms") / 1e3
    val builds = samples.map(_.store.builds).sum
    val hits = samples.map(_.store.hits).sum
    val dur = ev.triggers.map(_.durations)
    def streamSum(keys: String*): Double = dur.map(d => keys.map(d.getOrElse(_, 0L)).sum).sum / 1e3
    val triggerByRun = ev.triggers.groupBy(_.runId)
      .map { case (r, ts) => r -> ts.map(_.durations.getOrElse("triggerExecution", 0L)).sum }
    val residual = ev.streams.map(s => (s.end - s.start) - triggerByRun.getOrElse(s.runId, 0L)).sum / 1e3
    Map(
      "entry.construct_s" -> samples.map(_.constructS).sum,
      "entry.construct_jobs" -> constructJobs.toDouble,
      "entry.action_s" -> samples.map(_.actionS).sum,
      "store.builds" -> builds.toDouble,
      "store.hits" -> hits.toDouble,
      "store.accesses" -> samples.map(_.store.accesses).sum.toDouble,
      "store.hit_frac" -> (if (builds + hits > 0) hits.toDouble / (builds + hits) else 0.0),
      "store.live_entries" -> liveEntries.toDouble,
      "storage.block_peak_mb" -> ev.blockPeakBytes / MB,
      "sql.executions" -> ev.sql.size.toDouble,
      "sql.analysis_s" -> ev.phases("analysis") / 1e3,
      "sql.optimization_s" -> ev.phases("optimization") / 1e3,
      "sql.planning_s" -> ev.phases("planning") / 1e3,
      "sql.aqe_replans" -> ev.aqeUpdates.toDouble,
      "sched.jobs" -> ev.jobs.size.toDouble,
      "sched.stages" -> ev.stages.size.toDouble,
      "sched.tasks" -> t("tasks"),
      "sched.tasks_failed" -> t("tasks_failed"),
      "sched.job_s" -> jobS,
      "sched.outside_jobs_s" -> (wall - jobS),
      "sched.slot_idle_frac" -> (if (jobS > 0) 1.0 - t("busy_ms") / 1e3 / (cores * jobS) else 0.0),
      "sched.open_jobs" -> ev.openJobs.size.toDouble,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> t("cpu_ns") / 1e9,
      "exec.gc_s" -> t("gc_ms") / 1e3,
      "exec.deser_s" -> t("deser_ms") / 1e3,
      "exec.cpu_frac" -> (if (runS > 0) t("cpu_ns") / 1e9 / runS else 0.0),
      "scan.input_mb" -> t("input_bytes") / MB,
      "scan.records" -> t("input_records"),
      "shuffle.write_mb" -> t("shuffle_write_bytes") / MB,
      "shuffle.read_mb" -> t("shuffle_read_bytes") / MB,
      "shuffle.records" -> t("shuffle_read_records"),
      "shuffle.fetch_wait_s" -> t("fetch_wait_ms") / 1e3,
      "spill.disk_mb" -> t("spill_disk_bytes") / MB,
      "spill.mem_mb" -> t("spill_mem_bytes") / MB,
      "stream.queries" -> ev.streams.size.toDouble,
      "stream.batches" -> ev.triggers.size.toDouble,
      "stream.trigger_s" -> streamSum("triggerExecution"),
      "stream.add_batch_s" -> streamSum("addBatch"),
      "stream.planning_s" -> streamSum("queryPlanning"),
      "stream.offsets_s" -> streamSum("latestOffset", "getBatch", "walCommit"),
      "stream.commit_s" -> streamSum("commitOffsets"),
      "stream.state_rows_peak" -> (0L +: ev.triggers.map(_.stateRows)).max.toDouble,
      "stream.state_mb_peak" -> (0L +: ev.triggers.map(_.stateBytes)).max / MB,
      "stream.residual_s" -> residual,
    ) ++ jvm
  }

  /** The reconciliation rules a traced pass must meet; returns the broken
    * ones. Task run time may exceed the job window only by the tasks a
    * finished job leaves running (a limit's early stop), hence the 2%.
    */
  def reconcile(wallS: Double, totals: Map[String, Double], cores: Int): Seq[String] = {
    val broken = mutable.ArrayBuffer[String]()
    if (totals("sched.outside_jobs_s") > wallS + 1e-9)
      broken += f"sched.outside_jobs_s ${totals("sched.outside_jobs_s")}%.3f > pass_s $wallS%.3f"
    if (totals("exec.run_s") > cores * totals("sched.job_s") * 1.02 + 0.01)
      broken += f"exec.run_s ${totals("exec.run_s")}%.3f > $cores x job time ${totals("sched.job_s")}%.3f"
    if (totals("store.builds") + totals("store.hits") != totals("store.accesses"))
      broken += s"store builds ${totals("store.builds")} + hits ${totals("store.hits")} != accesses ${totals("store.accesses")}"
    if (totals("sched.open_jobs") > 0)
      broken += s"${totals("sched.open_jobs").toInt} started jobs never ended"
    broken.toSeq
  }
}
