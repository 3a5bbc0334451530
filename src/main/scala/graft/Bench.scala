package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A query that throws is reported in "errors" (name
  * -> message) and its timing is excluded from "value" — a broken query
  * must never read as a fast one.
  *
  * Usage: `graft.Bench [names] [planDir]`. `names` is a comma-separated
  * query filter (empty selects every query). With `planDir`, each query's
  * rep-0 frame is written as `explain("formatted")` to
  * `<planDir>/<name>.txt`, after that rep's timing.
  *
  * Measurement protocol: a one-shot cold run is dominated by JIT/codegen
  * warmup, not plan cost — a cold suite once measured 776 s against a
  * ~50 s steady state, with single queries at 10-45x their solo cost
  * (compile-queue backup makes whole stages run interpreted). So:
  *  1. the untimed warmup runs EVERY selected query once at the tiny
  *     warmup scale (sf0.001 by default): each query's generated classes
  *     are shaped by its plan, not its input size, so this JITs the
  *     sketch aggregates, LSH plane expressions, native text expressions
  *     and streaming state machinery of every query;
  *  2. each query is timed as the BEST of `reps` (default 2) runs at the
  *     target scale, so a stray compile stall in one run cannot read as
  *     plan cost.
  *
  * Layer record: a [[Census]] listens on the context's bus for the whole
  * run. After each rep, outside the timed region, Bench drains the bus,
  * takes the rep's events and writes one row ([[Census.run]]) — construct vs
  * action time, jobs, tasks, executor time, shuffle and spill, store
  * builds and hits, SQL executions and streaming phases — to
  * `last_layers.json` next to the SPARK_GRAFT_BENCH_OUT record, on
  * filtered runs too.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val only = args.headOption.map(SparkEntry.selectQueries).filter(_.nonEmpty)
    val planDir = args.lift(1)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val spark = GraftSession.build("graft-bench")
    val sc = spark.sparkContext
    val census = new Census
    sc.addSparkListener(census)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // untimed warmup: session/codegen infra init first, then one tiny-scale
    // pass over every selected query (see protocol note above). Warmup
    // failures are NON-FATAL but must be visible: a missing warmup dataset
    // would otherwise silently revert the whole run to cold timings and
    // change what is measured.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    var warmupFailures = 0
    selected.foreach { case (name, fn) =>
      try fn(spark, warmDir).count() catch {
        case e: Throwable =>
          warmupFailures += 1
          System.err.println(s"[graft.Bench] WARMUP FAILED for $name at $warmDir: " +
            Census.message(e))
      }
    }
    if (warmupFailures > 0)
      System.err.println(s"[graft.Bench] WARNING: $warmupFailures/${selected.size} warmup " +
        "runs failed — timings below may include JIT/codegen warmup (cold)")
    census.take(sc) // the warmup's events belong to no rep
    // known-bimodal queries get a third rep: at one commit the in-suite
    // best-of-2 reached 7.5x the solo time (mm_resize 4.90 vs 0.65 s) —
    // JDK codec work is allocation-heavy, so a GC pause or compile stall
    // can eat BOTH reps; one extra rep bounds a single stall's leverage
    // on the recorded best. The set is the measured outlier list (codec
    // family + the two trigger-timing stragglers), not a blanket raise.
    // The floor applies only when reps >= 2: an explicit reps=1 run asks
    // for one-shot timings, and running a long scale query three times
    // while recording "reps":1 would make the record false.
    val bimodal = Set("mm_resize", "mm_resize_exec", "mm_decode",
      "mm_audio_decode", "mm_audio_fingerprint", "mm_features",
      "dedup_minhash_calibration", "stream_hot_users")
    val repsBimodal = if (reps >= 2) reps.max(3) else reps
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    selected.foreach { case (name, fn) =>
      var best = Double.MaxValue
      var rep = 0
      val nReps = if (bimodal(name)) repsBimodal else reps
      while (rep < nReps && !errors.contains(name)) {
        val m = census.run(sc, name, rep)(fn(spark, sfDir))
        rows += JsonText.any(m.row)
        m.result match {
          case Right(df) =>
            best = best.min(m.wallS)
            for (d <- planDir if rep == 0) {
              Files.writeString(Paths.get(d, s"$name.txt"),
                df.queryExecution.explainString(FormattedMode))
              census.take(sc) // anything the explain ran belongs to no rep
            }
          case Left(e) => errors(name) = Census.message(e)
        }
        rep += 1
      }
      if (!errors.contains(name)) timings(name) = best
    }
    val qs = timings.map { case (k, v) => JsonText.str(k) + ":" + v }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => JsonText.str(k) + ":" + JsonText.str(v) }.mkString("{", ",", "}")
    val total = timings.values.sum
    // "metric"/"value" stay FIRST (the driver's contract keys) but the
    // total is REPEATED after the big "queries" map: a reader that keeps
    // only the tail of a long line can still recover the suite total.
    // reps_bimodal + the bimodal list make the record match what ran:
    // the effective rep count for the listed queries, not just the
    // requested default.
    val bimodalJson = bimodal.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // the state settings every stream twin over sfDir runs with
    val Seq((_, statePartitions), (_, stateProvider)) =
      graft.streaming.StreamingOps.stateConfFor(spark, sfDir)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"total_sec":$total,"reps":$reps,"reps_bimodal":$repsBimodal,"bimodal":$bimodalJson,"warmup":"$warmDir","sf":"$sfDir","stream_state_partitions":$statePartitions,"state_store_provider":"${stateProvider.split('.').last}"}"""
    println(line)
    // the full record also goes to a file: a reader that keeps only the
    // tail of a long line loses the head of the per-query map. The layer
    // record sits next to it.
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/last_run.json"))
    def persist(path: Path, text: String): Unit =
      try {
        Option(path.getParent).foreach(Files.createDirectories(_))
        Files.writeString(path, text)
      } catch { case e: Throwable =>
        System.err.println(s"[graft.Bench] could not persist $path: ${e.getMessage}")
      }
    if (only.isEmpty) // a filtered run must not masquerade as the suite
      persist(out, line + "\n")
    val header = JsonText.any(scala.collection.immutable.VectorMap[String, Any](
      "filter" -> only, "sf" -> sfDir, "warmup" -> warmDir, "reps" -> reps,
      "reps_bimodal" -> repsBimodal, "cores" -> GraftSession.defaultCores()))
    persist(out.resolveSibling("last_layers.json"),
      header.dropRight(1) + ",\"rows\":[\n" + rows.mkString(",\n") + "\n]}\n")
    spark.stop()
  }
}
