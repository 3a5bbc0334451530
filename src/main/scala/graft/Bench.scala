package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A query that throws is reported in "errors" (name
  * -> message) and its timing is excluded from "value" — a broken query
  * must never read as a fast one.
  *
  * Measurement protocol (reproducibility, VERDICT r3 #1): a one-shot cold
  * run is dominated by JIT/codegen warmup, not plan cost — the r3 driver
  * record measured 776 s for a suite whose steady state is ~50 s, with
  * individual queries 10-45x their solo cost (compile-queue backup makes
  * whole stages run interpreted). Warmup is excluded by design; it just
  * excluded too little (only the flagship query). Two fixes, both
  * warmup-scoped — the timed region still runs the full-scale query:
  *  1. the untimed warmup runs EVERY registered query once at the tiny
  *     warmup scale (sf0.001 by default): each query's generated classes
  *     are shaped by its plan, not its input size, so this JITs the md5
  *     sketch aggregates, LSH plane expressions, native shingle/winnow/
  *     dot expressions and streaming state machinery that the old
  *     single-query warmup never touched;
  *  2. each query is timed as the BEST of `reps` (default 2) runs at the
  *     target scale, so a stray compile stall in one run cannot read as
  *     plan cost. Per-query best-of-two of steady-state plans is within
  *     noise of a single steady-state run.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // optional arg: query-name filter (local iteration)
    val only = args.headOption.map(SparkEntry.selectQueries)
    val spark = GraftSession.build("graft-bench", corpusDir = Some(sfDir))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // untimed warmup: session/codegen infra init first, then one tiny-scale
    // pass over every selected query (see protocol note above). Warmup
    // failures are NON-FATAL but must be visible: a missing warmup dataset
    // would otherwise silently revert the whole run to cold timings and
    // change what is measured (ADVICE r4).
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    var warmupFailures = 0
    selected.foreach { case (name, fn) =>
      try fn(spark, warmDir).count() catch {
        case e: Throwable =>
          warmupFailures += 1
          System.err.println(s"[graft.Bench] WARMUP FAILED for $name at $warmDir: " +
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    }
    if (warmupFailures > 0)
      System.err.println(s"[graft.Bench] WARNING: $warmupFailures/${selected.size} warmup " +
        "runs failed — timings below may include JIT/codegen warmup (cold)")
    // known-bimodal queries get a third rep (VERDICT r14 #3): at one HEAD
    // the in-suite best-of-2 spread vs the solo canonical reached 7.5x
    // (mm_resize 4.90 vs 0.65 s) — JDK codec work is allocation-heavy, so
    // a GC pause or compile stall can eat BOTH reps; one extra rep bounds
    // a single stall's leverage on the recorded best. The set is the
    // measured outlier list (codec family + the two trigger-timing
    // stragglers), not a blanket raise — suite cost stays ~seconds.
    // The floor applies only when reps >= 2 (ADVICE r15): an explicit
    // reps=1 run is asking for cold/one-shot timings, and silently
    // running a ~12-minute scale query three times while recording
    // "reps":1 makes the protocol claim false.
    val bimodal = Set("mm_resize", "mm_resize_exec", "mm_decode",
      "mm_audio_decode", "mm_audio_fingerprint", "mm_features",
      "dedup_minhash_calibration", "stream_hot_users")
    val repsBimodal = if (reps >= 2) reps.max(3) else reps
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      var best = Double.MaxValue
      var rep = 0
      val nReps = if (bimodal(name)) repsBimodal else reps
      while (rep < nReps && !errors.contains(name)) {
        val up0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          best = best.min((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
        // per-rep trace with JVM-uptime window bounds, for correlating a
        // rep's wall time against an -Xlog:gc log's uptime stamps
        // (the r15 variance band's stream outliers; VERDICT r15 #3)
        if (sys.env.contains("SPARK_GRAFT_BENCH_TRACE"))
          System.err.println(String.format(java.util.Locale.ROOT,
            "[graft.Bench.trace] %s rep=%d %.3fs up=[%.1f,%.1f]", name,
            Integer.valueOf(rep), Double.box((System.nanoTime() - t0) / 1e9),
            Double.box(up0 / 1e3), Double.box(
              java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3)))
        rep += 1
      }
      if (!errors.contains(name)) timings(name) = best
    }
    val qs = timings.map { case (k, v) => JsonText.str(k) + ":" + v }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => JsonText.str(k) + ":" + JsonText.str(v) }.mkString("{", ",", "}")
    val total = timings.values.sum
    // "metric"/"value" stay FIRST (the driver's contract keys) but the
    // total is REPEATED after the big "queries" map: the driver keeps
    // only the tail of a long line, so trailing placement is what makes
    // the suite total recoverable from BENCH_r{N}.json (VERDICT r8 #4)
    // reps_bimodal + the bimodal list make the record match what ran:
    // the effective rep count for the listed queries, not just the
    // requested default (ADVICE r15 — r15 "reps":1 records actually
    // ran best-of-3 on these eight)
    val bimodalJson = bimodal.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"total_sec":$total,"reps":$reps,"reps_bimodal":$repsBimodal,"bimodal":$bimodalJson,"warmup":"$warmDir","sf":"$sfDir","stream_state_partitions":${spark.conf.get("spark.graft.streamStatePartitions")},"state_store_provider":"${spark.conf.get("spark.sql.streaming.stateStore.providerClass").split('.').last}"}"""
    println(line)
    // ALSO persist the full record in the repo (VERDICT r11 #8): the
    // driver's BENCH_r{N}.json keeps only the tail of a long line, so
    // the head of the per-query map is unrecoverable from it — this file
    // carries every per-query timing for round-over-round diffs.
    if (only.isEmpty) // a filtered run must not masquerade as the suite
      try {
        val out = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/last_run.json"))
        Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(out, line + "\n")
      } catch { case e: Throwable =>
        System.err.println(s"[graft.Bench] could not persist bench record: ${e.getMessage}")
      }
    spark.stop()
  }
}
