package graft.layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.LayerbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{ArtifactStore, GraftSession, SparkEntry}

/** The workloads: which registered queries a pass runs, in what order. */
object Workloads {
  val flagship = "urlcount_topk"

  /** The queries of a pass, in pass order. `curation` runs a fixed sample
    * of the batch curation families and of their streaming twins, small
    * enough that a run fits its time budget: two stores each shared by a
    * pair of queries (the rep-shingle layer; the co-supplier graph, whose
    * builder runs connected components), a stateful streaming dedup, and
    * the streaming URL count. The order is fixed, each store's builder
    * first: a seeded order moved which query paid for each build, and
    * with it the per-query figures, from run to run.
    */
  def queries(workload: String): Seq[String] = workload match {
    case "urlcount_large" => SparkEntry.queries.keys.filter(_.startsWith("urlcount_")).toSeq.sorted
    case "curation" => Seq("dedup_minhash_lsh", "dedup_simhash", "graph_communities",
      "graph_triangles", "stream_dedup", "stream_urlcount_canonical")
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

}

/** Store builds and hits of one query, from the stores' key and consumer
  * registries snapshotted around it. A slot the query touched is a build
  * if a key appeared under it, else a hit.
  */
object StoreProbe {
  private def live: Set[(String, String, String)] =
    ArtifactStore.all.flatMap(s => s.liveKeys.map { case (slot, fp) => (s.name, slot, fp) }).toSet
  private def touched(consumer: String): Set[(String, String)] =
    ArtifactStore.all.flatMap { s =>
      s.consumersBySlot.toSeq.collect { case (slot, cs) if cs(consumer) => (s.name, slot) }
    }.toSet
  def liveEntries: Int = ArtifactStore.all.map(_.liveKeys.size).sum

  final case class Use(builds: Int, hits: Int, accesses: Int, stores: Seq[String])

  /** Runs `body` attributed to `consumer`. */
  def around(consumer: String)(body: => Unit): Use = {
    val keys0 = live
    val touched0 = touched(consumer)
    ArtifactStore.currentConsumer.set(consumer)
    try body finally ArtifactStore.currentConsumer.remove()
    val fresh = live -- keys0
    val accessed = touched(consumer) -- touched0
    val builtSlots = fresh.map(k => (k._1, k._2))
    Use(fresh.size, (accessed -- builtSlots).size, accessed.size,
      (accessed ++ builtSlots).map(_._1).toSeq.sorted)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** The layered benchmark's JVM side.
  *
  * One driver thread, closed loop. Set-up, three times: build the
  * session (stopping the previous one) and run every workload query once,
  * untimed, on the measured tables; the median round is `setup_s`, and
  * the three rounds leave the JIT settled at full input size. Then timed
  * passes until `--seconds` have elapsed. Every pass clears the
  * run-lifetime stores, then runs each query once — built by its
  * `SparkEntry.queries` constructor, forced by writing its full result —
  * and, after the pass, the flagship top-k query until it has four timed
  * runs in the pass. The last pass's results are left for the oracle
  * comparison.
  *
  * With `--trace 1` the run attaches [[LayerListener]] and
  * [[PhaseListener]] and records passes in the order unrecorded,
  * recorded, recorded, unrecorded: the recorded ones give the per-layer
  * totals and spans, the two kinds together the tracing overhead, with
  * neither kind favoured by its place in the sequence.
  *
  * Writes `<out>/record.json`, and the results under `<out>/results`.
  */
object Main {
  final case class Opts(workload: String, data: String, out: String,
                        seconds: Double, seed: Long, trace: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m("seed").toLong, m.getOrElse("trace", "0") == "1")
  }

  /** Set-up rounds per run: their median is `setup_s`. */
  private val setupRounds = 3
  /** Timed flagship top-k runs per pass, its own run in the pass
    * included: their median is `topk_s`.
    */
  private val topkReps = 4

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds at nanosecond resolution, aligned with Spark's stamps. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The tail latency: the nearest-rank percentile at the highest level
    * that leaves at least 10 samples above it even in a run's smallest
    * sample, `minSamples` (the maximum when that is 10 or fewer). Fixing
    * the level per workload keeps runs with different pass counts
    * comparable. Returns (value, percentile level, sample count).
    */
  def tail(xs: Seq[Double], minSamples: Int): (Double, Double, Int) = {
    val s = xs.sorted
    val beyond = (minSamples - 10).max(0)
    val rank = if (beyond == 0) s.size else (beyond * s.size + minSamples - 1) / minSamples
    (s(rank - 1), if (beyond == 0) 100.0 else 100.0 * beyond / minSamples, s.size)
  }

  private def jvmCounters: Map[String, Double] = Map(
    "jvm.gc_pause_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3,
    "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "codegen.compile_s" -> CodeGenerator.compileTime / 1e9)

  private val MB = 1024.0 * 1024.0

  /** The heap's tenured pools (the ones with a usage threshold; the young
    * pools have none): where the stores, cached blocks and anything else
    * a run keeps across queries end up, whatever the collector's young
    * generation sizing does.
    */
  private def oldGenPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.isUsageThresholdSupported)

  private def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  private def runQuery(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** The timed action: the query's full result, written as parquet — the
    * reference job's own final step, and the files the oracle check reads.
    * (A `count()` would let Catalyst drop final sorts and aggregates.)
    */
  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val names = Workloads.queries(o.workload)
    if (o.trace)
      System.setProperty("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)

    // ---- set-up, three times: session build + untimed warmup ----
    val warmFailures = mutable.LinkedHashMap[String, String]()
    var spark: SparkSession = null
    val setups = (1 to setupRounds).map { _ =>
      if (spark != null) spark.stop()
      ArtifactStore.clearAll()
      val t0 = System.nanoTime()
      spark = GraftSession.build("layerbench", s"local[$cores]", cores)
      val build = (System.nanoTime() - t0) / 1e9
      (names :+ Workloads.flagship).distinct.foreach { q =>
        try write(runQuery(spark, o.data, q), s"${o.out}/warmup/$q")
        catch { case NonFatal(e) => warmFailures(q) = message(e) }
      }
      ArtifactStore.clearAll()
      (build, (System.nanoTime() - t0) / 1e9 - build)
    }
    val buildS = median(setups.map(_._1))
    val warmupS = median(setups.map(_._2))
    val conf = spark.conf.getAll

    val listener = if (o.trace) new LayerListener else null
    if (o.trace) {
      LayerListener.active = listener
      spark.sparkContext.addSparkListener(listener)
    }

    // ---- timed passes ----
    final case class Pass(idx: Int, traced: Boolean, start: Double, end: Double,
                          samples: Seq[Sample], topk: Seq[Double], jvm: Map[String, Double],
                          totals: Map[String, Double], spans: Seq[Span], broken: Seq[String]) {
      def wallS: Double = (end - start) / 1e3
    }
    val passes = mutable.ArrayBuffer[Pass]()
    val resultDir = s"${o.out}/results"
    val failures = mutable.LinkedHashMap[String, String]()
    // at least two untraced passes; a traced run records passes 1 and 2
    // of every four
    val minPasses = if (o.trace) 4 else 2
    oldGenPools.foreach(_.resetPeakUsage())
    val measuredStart = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - measuredStart) / 1e9 < o.seconds) {
      val idx = passes.size
      val traced = o.trace && (idx % 4 == 1 || idx % 4 == 2)
      ArtifactStore.clearAll()
      if (o.trace) {
        LayerbenchBus.drain(spark.sparkContext)
        listener.recording = traced
        listener.take()
      }
      val jvm0 = jvmCounters
      val start = nowMs
      val samples = names.map { q =>
        val s0 = nowMs
        var built = Double.NaN
        val use = StoreProbe.around(q) {
          try {
            val df = runQuery(spark, o.data, q)
            built = nowMs
            write(df, s"$resultDir/$q")
          } catch { case NonFatal(e) => failures(s"$q#pass$idx") = message(e) }
        }
        val end = nowMs
        if (built.isNaN) built = end
        Sample(idx, q, s0, built, end, use)
      }
      val passEnd = nowMs
      val live = StoreProbe.liveEntries
      val jvm1 = jvmCounters
      // the listener applies `recording` as events arrive: drain first
      val events = if (!traced) None else {
        LayerbenchBus.drain(spark.sparkContext)
        val ev = listener.take()
        listener.recording = false
        Some(ev)
      }
      // the flagship top-k: its run in the pass, then runs of its own
      val inPass = samples.filter(_.name == Workloads.flagship).map(_.wallS)
      val topk = inPass ++ (inPass.size + 1 to topkReps).map { rep =>
        val t0 = System.nanoTime()
        try write(runQuery(spark, o.data, Workloads.flagship), s"$resultDir/${Workloads.flagship}")
        catch { case NonFatal(e) => failures(s"${Workloads.flagship}#pass$idx.$rep") = message(e) }
        (System.nanoTime() - t0) / 1e9
      }
      val jvm = jvm1.map { case (k, v) => k -> (v - jvm0(k)) }
      events.foreach { ev =>
        val totals = Layers.passTotals(start, passEnd, samples, ev, cores, jvm, live)
        val spans = Layers.spans(idx, start, passEnd, samples, ev)
        passes += Pass(idx, traced, start, passEnd, samples, topk, jvm, totals, spans,
          Layers.reconcile((passEnd - start) / 1e3, totals, cores))
      }
      if (!traced) passes += Pass(idx, traced, start, passEnd, samples, topk, jvm, Map.empty, Nil, Nil)
    }
    if (o.trace) listener.recording = false
    val rss = rssPeakMb
    val oldGenPeak = oldGenPools.map(_.getPeakUsage.getUsed).sum / MB
    val mem = ManagementFactory.getMemoryMXBean

    // the last pass's results are the ones the oracle checks
    val checked = (names :+ Workloads.flagship).distinct
    Files.createDirectories(Paths.get(resultDir))
    Files.writeString(Paths.get(s"$resultDir/oracle_sql.json"),
      Json(checked.map(q => q -> SparkEntry.oracleSql(q)).toMap))

    // ---- the record ----
    val timedPasses = passes.filter(!_.traced)
    val all = timedPasses.flatMap(_.samples).map(_.wallS).toSeq
    // every run measures at least two untraced passes
    val (tailS, tailLevel, tailN) = tail(all, names.size * 2)
    val tracedPasses = passes.filter(_.traced).toSeq
    val endToEnd = Map(
      "setup_s" -> median(setups.map(s => s._1 + s._2)),
      "pass_s" -> median(timedPasses.map(_.wallS).toSeq),
      "query_p50_s" -> median(all),
      "query_tail_s" -> tailS,
      "topk_s" -> median(timedPasses.flatMap(_.topk).toSeq),
      "rss_peak_mb" -> rss)
    val perLayer: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        val keys = tracedPasses.head.totals.keys
        keys.map(k => k -> median(tracedPasses.map(_.totals(k)))).toMap ++ Map(
          "session.build_s" -> buildS,
          "session.warmup_s" -> warmupS,
          "jvm.old_gen_peak_mb" -> oldGenPeak,
          "trace.overhead_frac" ->
            (median(tracedPasses.map(_.wallS)) / median(timedPasses.map(_.wallS).toSeq) - 1))
      }
    val queryRows = if (!o.trace) Nil else names.map { q =>
      val ss = tracedPasses.flatMap(_.samples.filter(_.name == q))
      val perPass = tracedPasses.flatMap { p =>
        p.samples.find(_.name == q).map { s =>
          val kids = p.spans.filter(sp => sp.start >= s.start - 1 && sp.start <= s.end)
          val jobs = kids.filter(_.kind == "job")
          Map(
            "jobs" -> jobs.size.toDouble,
            "sql_executions" -> kids.count(_.kind == "sql").toDouble,
            "stages" -> kids.count(_.kind == "stage").toDouble,
            "stream_batches" -> kids.count(_.kind == "trigger").toDouble,
            "outside_jobs_s" -> (s.wallS -
              Layers.unionLength(jobs.map(j => (j.start, j.end)), s.start, s.end) / 1e3))
        }
      }
      def med(f: Sample => Double) = median(ss.map(f))
      Map("query" -> q,
        "wall_s" -> med(_.wallS), "construct_s" -> med(_.constructS),
        "action_s" -> med(_.actionS), "store_builds" -> med(_.store.builds.toDouble),
        "store_hits" -> med(_.store.hits.toDouble),
        "store_accesses" -> med(_.store.accesses.toDouble),
        "stores" -> ss.flatMap(_.store.stores).distinct.sorted) ++
        perPass.headOption.map(_.keys).getOrElse(Nil).map(k => k -> median(perPass.map(_(k))))
    }
    val spanKinds = tracedPasses.flatMap(p => Layers.selfTimes(p.spans).toSeq)
      .groupBy(_._1).map { case (kind, xs) =>
        kind -> Map("count" -> median(xs.map(_._2._1.toDouble)),
          "total_s" -> median(xs.map(_._2._2)), "self_s" -> median(xs.map(_._2._3)))
      }
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "cores" -> cores,
      "queries" -> names, "passes" -> passes.size,
      "pass_s" -> passes.map(p => Map("pass" -> p.idx, "traced" -> p.traced, "wall_s" -> p.wallS,
        "topk_s" -> p.topk, "queries_s" -> p.samples.map(q => q.name -> q.wallS).toMap) ++ p.jvm),
      "setup" -> Map("build_s" -> buildS, "warmup_s" -> warmupS,
        "rounds" -> setups.map(s => Map("build_s" -> s._1, "warmup_s" -> s._2))),
      "end_to_end" -> endToEnd,
      "query_tail" -> Map("level_pct" -> tailLevel, "samples" -> tailN),
      "memory_mb" -> Map("rss_peak" -> rss, "old_gen_peak_timed" -> oldGenPeak,
        "heap_committed" -> mem.getHeapMemoryUsage.getCommitted / MB,
        "non_heap_committed" -> mem.getNonHeapMemoryUsage.getCommitted / MB),
      "samples_attempted" ->
        passes.map(p => p.samples.size + p.topk.size - p.samples.count(_.name == Workloads.flagship)).sum,
      "oracle_checked" -> checked,
      "failures" -> failures, "warmup_failures" -> warmFailures,
      "per_layer" -> perLayer,
      "reconcile" -> tracedPasses.map(p => Map("pass" -> p.idx, "broken" -> p.broken)),
      "traced_passes" -> tracedPasses.map(p => Map("pass" -> p.idx, "wall_s" -> p.wallS,
        "totals" -> p.totals)),
      "span_kinds" -> spanKinds,
      "query_rows" -> queryRows,
      "spans_first_traced_pass" -> tracedPasses.headOption.map(_.spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end))).getOrElse(Nil),
      "sql_conf" -> conf)
    Files.writeString(Paths.get(s"${o.out}/record.json"), Json(record))
    spark.stop()
  }
}
