package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table access for the graft engine.
  *
  * [[build]] is the only place the engine constructs a SparkSession:
  * every main and the test base call it. It runs a `local[n]` single JVM
  * by default (n = `SPARK_GRAFT_CPUS`, else the available processors)
  * but is written for a real cluster: Spark's default AQE (runtime
  * re-plan, skew-join splitting, partition coalescing), shuffle
  * partitions sized to the core count (on a 1000-executor cluster this
  * would be ~2-3x total cores, set per-job).
  */
object GraftSession {

  /** The executor heap a `local-cluster[n,cores,mem]` master string
    * PROMISES. Spark registers `mem` only as the standalone worker's
    * CAPACITY — the executor JVM's -Xmx still comes from
    * `spark.executor.memory` (default 1g), so without this every
    * local-cluster run silently launches 1 GiB executors no matter what
    * the master string says: a 100x combined run OOM'd executors
    * requested at "8 GiB" whose real -Xmx was 1024M (the worker's
    * executor launch command shows it). [[sessionConf]] passes the
    * parsed value through to `spark.executor.memory`, making the
    * topology argument mean what it says.
    */
  def executorMemoryFor(master: String): Option[String] =
    """^local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]$""".r
      .findFirstMatchIn(master).map(_.group(1) + "m")

  /** Base directory for EPHEMERAL per-application scratch (streaming
    * checkpoints and sink read-back dirs of the AvailableNow harness
    * twins, the heartbeat side source). These artifacts live exactly as
    * long as the application — every root registers a shutdown-hook
    * delete — so durability buys nothing, while their I/O profile is
    * many tiny files with create/rename/fsync metadata ops per
    * micro-batch (offset WAL, commit log, state-store deltas, file-sink
    * metadata). Measured on this host: ~5.5 ms/fsync on the ext4 /tmp
    * vs ~0.01 ms on the RAM-backed /dev/shm — across 43 streaming twins
    * x 2-3 micro-batches x 5-20 metadata commits each, the disk-backed
    * default was a material slice of the per-query machinery floor. So
    * the default prefers the node's RAM-backed scratch when present.
    *
    * Deployment contract: SPARK_GRAFT_SCRATCH_DIR overrides — a
    * production streaming job
    * whose checkpoints must survive the process (or a multi-node
    * cluster, where /dev/shm is node-local) points this at durable
    * shared storage, exactly like spark.local.dir for shuffle. The
    * run-lifetime BUCKETED stores (index/profile tables) do NOT live
    * here — their write path is the operator under test and stays on
    * the regular filesystem.
    */
  def scratchBase: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR", defaultScratchBase)

  private[graft] lazy val defaultScratchBase: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.getAbsolutePath
    else System.getProperty("java.io.tmpdir")
  }

  /** Register a JVM shutdown hook that recursively deletes `root` —
    * once per distinct root, so a JVM running several SparkContexts in
    * sequence (sbt test JVMs, back-to-back harness runs) reclaims every
    * application's scratch. Stream sinks, the reliable-checkpoint
    * default dir and the run-scoped tables share it: without it, 19
    * dead-application `graft-checkpoints-*` dirs / 6.5 GB were found
    * leaked under /tmp in one bench day. Returns whether the root was
    * newly registered. Only defaults whose recovery value ends with the
    * application belong here — never a user-configured path.
    */
  private val cleanupRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def cleanupAtShutdown(root: String): Boolean = {
    val added = cleanupRoots.add(root)
    if (added)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(new java.io.File(root))))
    added
  }
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Cores a session sizes its shuffle width to (and so its streams'
    * state-partition cap): `SPARK_GRAFT_CPUS`, else the JVM's available
    * processors. */
  def defaultCores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_MASTER`, else `local[defaultCores]`. */
  def defaultMaster(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_MASTER", s"local[${defaultCores(env)}]")

  /** The session configuration, as a pure function of the master, the
    * core count and the environment — the one place the `SPARK_GRAFT_*`
    * session contract is read:
    *  - `SPARK_GRAFT_EXECUTOR_CLASSPATH` -> `spark.executor.extraClassPath`
    *  - `SPARK_GRAFT_RELIABLE` -> `spark.graft.reliableCheckpoint`
    *    (the Materialize seam checkpoints reliably for the whole run)
    * (`SPARK_GRAFT_MASTER` and `SPARK_GRAFT_CPUS` arrive through
    * [[defaultMaster]] and [[defaultCores]].) Stream state is sized per
    * stream, from the stream's own corpus (`StreamingOps.stateConf`).
    */
  def sessionConf(master: String, cores: Int,
                  env: Map[String, String]): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    // HotSpot refuses to JIT methods over 8000 bytecode bytes
    // (-XX:+DontCompileHugeMethods is the default), so whole-stage
    // codegen output beyond that runs INTERPRETED — measured 3-20x
    // stage slowdowns with multi-minute JIT-queue stalls on this
    // suite. Capping at 8000 makes Spark fall back to the split
    // non-wholestage path for oversized stages: full bench went
    // 109s -> 38s at sf0.1. (Same value Spark's own docs recommend.)
    "spark.sql.codegen.hugeMethodLimit" -> "8000",
    // file-open cost modeled at 1 MB (default 4 MB floors the split
    // size): synthetic text compresses ~10:1, so a CPU-dense scan of
    // a small compressed file was planned 2 tasks wide regardless of
    // its row groups — the only above-linear ratios in the 10x probe
    // traced to exactly this. 1 MB lets a multi-row-group file split
    // to its group count; single-row-group files (the sf0.1 harness
    // layout) are unaffected either way.
    "spark.sql.files.openCostInBytes" -> (1024 * 1024).toString,
    // default generated-class cache holds 100 entries; a multi-query
    // session churns past that, evicting warm classes so later (or
    // re-run) queries re-Janino-compile and re-JIT them — one source
    // of the multi-second per-query run-to-run swings. 1000 entries
    // keeps every plan of the suite resident (entries are source-text
    // keyed; memory cost is the generated classes themselves).
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    // localCheckpoint blocks are freed by the ContextCleaner only after
    // a JVM GC notices the dropped plan references; with a large heap,
    // GC can lag many queries behind, so checkpointed intermediates
    // accumulate and executions get slower over a session (measured).
    // A short periodic-GC interval bounds that drift.
    "spark.cleaner.periodicGC.interval" -> "30s",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    // reader rejects; read it as BIGINT nanos (EventWindows does exact
    // integral arithmetic on it — doubles would lose precision at 1e18).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false"
  ) ++ executorMemoryFor(master).map("spark.executor.memory" -> _) ++
    env.get("SPARK_GRAFT_EXECUTOR_CLASSPATH").map("spark.executor.extraClassPath" -> _) ++
    env.get("SPARK_GRAFT_RELIABLE").map("spark.graft.reliableCheckpoint" -> _)

  /** The engine's session: [[sessionConf]], with the SQL surface
    * (graft_* functions and the tokenizer rewrite) injected at build.
    */
  def build(appName: String = "graft",
            master: String = defaultMaster(),
            shufflePartitions: Int = defaultCores()): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
    sessionConf(master, shufflePartitions, sys.env).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one of the harness parquet tables under `sfDir`.
    * Plain `spark.read.parquet` so Catalyst keeps filter pushdown /
    * column pruning / partition-size splitting for free.
    *
    * `events.ts` is normalized to BIGINT epoch NANOS regardless of the
    * physical type the harness generated: older corpora hold parquet
    * TIMESTAMP(NANOS) (read as BIGINT via nanosAsLong above), the
    * current corpus writes TIMESTAMP(MICROS). EventWindows does exact
    * integral arithmetic on the nanos form (doubles would lose
    * precision at 1e18), so the micros form is widened exactly
    * (us * 1000; under the UTC session the NTZ->LTZ cast is the
    * identity instant). The conversion is a narrow projection over the
    * scan — column pruning still reaches the footer, and nothing
    * filters on raw `ts` below it.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
      case _ => df
    }
  }
}
