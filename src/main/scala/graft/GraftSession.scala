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
    * the master string says. Found when the round-15 100x combined run
    * OOM'd executors requested at "8 GiB" whose real -Xmx was 1024M
    * (worker launch command in /opt/spark/work). [[sessionConf]] passes
    * the parsed value through to `spark.executor.memory`, making the
    * topology argument mean what it says.
    */
  def executorMemoryFor(master: String): Option[String] =
    """^local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]$""".r
      .findFirstMatchIn(master).map(_.group(1) + "m")

  /** Resolve SPARK_GRAFT_STATESTORE to a provider class, failing fast at
    * session BUILD on a typo (ADVICE r15): the raw fallthrough passed any
    * string straight to `spark.sql.streaming.stateStore.providerClass`,
    * so 'rocksDB' only failed deep into the run when the first stateful
    * query started. Accepts the two spelled aliases or any resolvable
    * class name.
    */
  def stateStoreProviderFor(value: String): String = value match {
    case "rocksdb" => rocksDbProvider
    case "default" => onHeapProvider
    case other =>
      // fail fast only on what is certainly a typo (no package separator
      // — 'rocksDB', 'ROCKSDB'); a dotted FQCN that does not resolve on
      // the DRIVER may still be legitimate, shipped executor-side via
      // SPARK_GRAFT_EXECUTOR_CLASSPATH, so it passes through with a
      // warning instead of failing a deployable config (ADVICE r16).
      // Class.forName with initialize=false: validation must not run a
      // provider's static initializers at session build.
      if (!other.contains(".")) throw new IllegalArgumentException(
        s"SPARK_GRAFT_STATESTORE='$other' is neither 'rocksdb'/'default' " +
          "nor a state-store provider class name")
      try Class.forName(other, false, Thread.currentThread.getContextClassLoader)
      catch {
        case _: ClassNotFoundException => System.err.println(
          s"warning: state-store provider '$other' is not on the driver " +
            "classpath; proceeding (it may be executor-only via " +
            "SPARK_GRAFT_EXECUTOR_CLASSPATH) — a typo fails at first " +
            "stateful query start instead of here")
      }
      other
  }

  val onHeapProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  val rocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Measured streaming-state bytes per stateful-input byte (VERDICT r16
    * crossover, bench/statestore_crossover_r16.json): the heaviest
    * stateful twins (the 100x interval joins) held 901.6 MB of loaded
    * store (`stateOperators.memoryUsedBytes`) against a 216 MB events
    * table on disk — ~4.2x, because parquet is compressed and the join
    * keeps BOTH sides' rows in the interval window. Deliberately the
    * worst case in the suite: forecasting every stateful query at the
    * join's ratio only ever flips to RocksDB early, never OOMs late.
    */
  val stateBytesPerStatefulInputByte: Double = 4.2

  /** Auto provider choice encoding the measured crossover
    * (bench/statestore_crossover_r16.json; VERDICT r16 #2): the default
    * HDFSBackedStateStoreProvider keeps each partition's loaded store
    * ON-HEAP and retains ~2 versions during maintenance — measured flat
    * down to ~2.4x heap:state headroom (1024m leg = the 2048m time) and
    * an executor OOM-cascade DNF at ~1.2x (512m leg). RocksDB keeps
    * state in native memory + local disk: heap-INSENSITIVE (689/707 s
    * across a 2x heap change) but ~2.8x slower when heap is ample. So:
    * RocksDB iff forecast per-executor state exceeds HALF the executor
    * heap, else on-heap. Replayed on the measured topology (216 MB
    * events, 2 executors): 512m -> RocksDB (completes, 707 s, where
    * on-heap cannot run), 1024m/2048m -> on-heap (245 s, 2.8x faster
    * than RocksDB there) — the rule picks the fastest COMPLETING
    * provider at every measured point. StateStoreAutoProviderSpec pins
    * it; SPARK_GRAFT_STATESTORE overrides it.
    */
  def autoStateStoreProvider(statefulInputBytes: Long,
                             executorHeapBytes: Long,
                             numExecutors: Int): String = {
    val perExecutorState =
      statefulInputBytes * stateBytesPerStatefulInputByte /
        math.max(1, numExecutors)
    if (perExecutorState > executorHeapBytes / 2.0) rocksDbProvider
    else onHeapProvider
  }

  /** The executor heap (bytes) a master string implies: parsed from
    * `local-cluster[n,c,mem]` (what [[executorMemoryFor]] forwards to
    * spark.executor.memory), else — local[*] masters, where state lives
    * in this one JVM — the running JVM's own -Xmx.
    */
  def executorHeapBytesFor(master: String): Long =
    executorMemoryFor(master)
      .map(m => m.stripSuffix("m").toLong << 20)
      .getOrElse(Runtime.getRuntime.maxMemory)

  /** Executor count a master string implies (1 for local[*]). */
  def numExecutorsFor(master: String): Int =
    """^local-cluster\[\s*(\d+)\s*,""".r
      .findFirstMatchIn(master).map(_.group(1).toInt).getOrElse(1)

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
    * default was a material slice of the per-query machinery floor
    * (round 18, guide §6). So the default prefers the node's RAM-backed
    * scratch when present.
    *
    * Deployment contract: `spark.graft.scratchDir` (or
    * SPARK_GRAFT_SCRATCH_DIR) overrides — a production streaming job
    * whose checkpoints must survive the process (or a multi-node
    * cluster, where /dev/shm is node-local) points this at durable
    * shared storage, exactly like spark.local.dir for shuffle. The
    * run-lifetime BUCKETED stores (index/profile tables) do NOT live
    * here — their write path is the operator under test and stays on
    * the regular filesystem.
    */
  def scratchBase(spark: SparkSession): String = {
    val conf = spark.conf.get("spark.graft.scratchDir", "")
    if (conf.nonEmpty) conf
    else sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR", defaultScratchBase)
  }

  private[graft] lazy val defaultScratchBase: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.getAbsolutePath
    else System.getProperty("java.io.tmpdir")
  }

  /** Register a JVM shutdown hook that recursively deletes `root` —
    * once per distinct root, so a JVM running several SparkContexts in
    * sequence (sbt test JVMs, back-to-back harness runs) reclaims every
    * application's scratch (ADVICE r15 pattern, hoisted from
    * StreamingOps so the reliable-checkpoint default dir shares it: 19
    * dead-application `graft-checkpoints-*` dirs / 6.5 GB were found
    * leaked under /tmp in one bench day). Returns whether the root was
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

  /** Cores a session sizes its shuffle width and state-partition cap
    * to: `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def defaultCores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_MASTER`, else `local[defaultCores]`. */
  def defaultMaster(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_MASTER", s"local[${defaultCores(env)}]")

  /** Bytes on disk of `corpusDir`'s events table (a Spark-written
    * directory or a single file; 0 when absent): the stateful-volume
    * proxy both state rules size from.
    */
  def eventsBytes(corpusDir: String): Long = {
    val ev = new java.io.File(s"$corpusDir/events.parquet")
    Option(ev.listFiles)
      .map(_.filter(_.isFile).map(_.length).sum)
      .getOrElse(if (ev.isFile) ev.length else 0L)
  }

  /** The session configuration, as a pure function of the master, the
    * core count, the corpus's events bytes and the environment — the
    * one place the `SPARK_GRAFT_*` contract is read:
    *  - `SPARK_GRAFT_EXECUTOR_CLASSPATH` -> `spark.executor.extraClassPath`
    *  - `SPARK_GRAFT_RELIABLE` -> `spark.graft.reliableCheckpoint`
    *    (the Materialize seam checkpoints reliably for the whole run)
    *  - `SPARK_GRAFT_STATESTORE` (`rocksdb`, `default` or a provider
    *    class) overrides [[autoStateStoreProvider]]
    *  - `SPARK_GRAFT_STREAM_STATE_PARTITIONS` overrides
    *    `StreamingOps.sizeStatePartitions`
    * (`SPARK_GRAFT_MASTER` and `SPARK_GRAFT_CPUS` arrive through
    * [[defaultMaster]] and [[defaultCores]].)
    */
  def sessionConf(master: String, cores: Int, eventsBytes: Long,
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
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.stateStore.providerClass" ->
      env.get("SPARK_GRAFT_STATESTORE").map(stateStoreProviderFor)
        .getOrElse(autoStateStoreProvider(eventsBytes,
          executorHeapBytesFor(master), numExecutorsFor(master))),
    "spark.graft.streamStatePartitions" ->
      env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTITIONS",
        graft.streaming.StreamingOps.sizeStatePartitions(eventsBytes, cores).toString)
  ) ++ executorMemoryFor(master).map("spark.executor.memory" -> _) ++
    env.get("SPARK_GRAFT_EXECUTOR_CLASSPATH").map("spark.executor.extraClassPath" -> _) ++
    env.get("SPARK_GRAFT_RELIABLE").map("spark.graft.reliableCheckpoint" -> _)

  /** The engine's session: [[sessionConf]] over `corpusDir`'s events
    * bytes (0 without a corpus), with the SQL surface (graft_*
    * functions and the token-count rewrite) injected at build.
    */
  def build(appName: String = "graft",
            master: String = defaultMaster(),
            shufflePartitions: Int = defaultCores(),
            corpusDir: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
    sessionConf(master, shufflePartitions, corpusDir.map(eventsBytes).getOrElse(0L),
      sys.env).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one of the harness parquet tables under `sfDir`.
    * Plain `spark.read.parquet` so Catalyst keeps filter pushdown /
    * column pruning / partition-size splitting for free.
    *
    * `events.ts` is normalized to BIGINT epoch NANOS regardless of the
    * physical type the harness generated: earlier rounds wrote parquet
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
