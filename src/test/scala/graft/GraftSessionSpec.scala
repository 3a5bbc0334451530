package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Pins the one session spec: `GraftSession.sessionConf` is a pure
  * function of (master, cores, events bytes, env), so its rules and the
  * `SPARK_GRAFT_*` overrides are checked here without a SparkContext,
  * and `GraftSession.build` stays the only place a session is built.
  */
class GraftSessionSpec extends AnyFunSuite {
  private val MB = 1L << 20
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val partitionsKey = "spark.graft.streamStatePartitions"

  private def conf(master: String, cores: Int, eventsBytes: Long,
                   env: Map[String, String] = Map.empty): Map[String, String] = {
    val kvs = GraftSession.sessionConf(master, cores, eventsBytes, env)
    assert(kvs.map(_._1).distinct.size === kvs.size, s"duplicate keys: $kvs")
    kvs.toMap
  }

  /** A corpus dir whose events table is one sparse file of `bytes`. */
  private def corpusWithEvents(bytes: Long): String = {
    val dir = new File(SparkSpec.tempDir("graft-session-spec"))
    val events = new File(dir, "events.parquet")
    events.mkdirs()
    new File(events, "_SUCCESS").createNewFile()
    val part = new RandomAccessFile(new File(events, "part-00000.parquet"), "rw")
    try part.setLength(bytes) finally part.close()
    dir.getPath
  }

  test("no corpus, empty env: state rules resolve to Spark's and StreamingOps' defaults") {
    val cores = Runtime.getRuntime.availableProcessors
    val c = conf(s"local[$cores]", cores, GraftSession.eventsBytes("/nonexistent/corpus"))
    assert(c(providerKey) === SQLConf.STATE_STORE_PROVIDER_CLASS.defaultValueString)
    assert(c(partitionsKey) === StreamingOps.defaultStatePartitions.toString)
    assert(c("spark.sql.shuffle.partitions") === cores.toString)
    // AQE is not set: Spark's own defaults already turn all of it on
    assert(Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED, SQLConf.COALESCE_PARTITIONS_ENABLED,
      SQLConf.SKEW_JOIN_ENABLED).forall(_.defaultValue.contains(true)))
    // a local master sets no executor memory; nothing env-only leaks in
    assert(Seq("spark.executor.memory", "spark.executor.extraClassPath",
      "spark.graft.reliableCheckpoint").forall(k => !c.contains(k)))
  }

  test("a corpus of known events size resolves through both state rules") {
    val bytes = 20 * MB
    val dir = corpusWithEvents(bytes)
    assert(GraftSession.eventsBytes(dir) === bytes)
    // two 64 MB executors: 20 MB x 4.2 / 2 per executor is over half the heap
    val master = "local-cluster[2,1,64]"
    val c = conf(master, 8, GraftSession.eventsBytes(dir))
    assert(c(providerKey) === GraftSession.autoStateStoreProvider(bytes, 64 * MB, 2))
    assert(c(providerKey) === GraftSession.rocksDbProvider)
    assert(c(partitionsKey) === StreamingOps.sizeStatePartitions(bytes, 8).toString)
    assert(c(partitionsKey) === "5")
    assert(c("spark.executor.memory") === "64m")
    GraftSession.deleteRecursively(new File(dir))
  }

  test("each SPARK_GRAFT_* variable overrides its rule") {
    val master = "local-cluster[2,1,64]"
    val c = conf(master, 8, 20 * MB, Map(
      "SPARK_GRAFT_STATESTORE" -> "default",
      "SPARK_GRAFT_STREAM_STATE_PARTITIONS" -> "7",
      "SPARK_GRAFT_EXECUTOR_CLASSPATH" -> "/opt/graft/classes",
      "SPARK_GRAFT_RELIABLE" -> "true"))
    assert(c(providerKey) === GraftSession.onHeapProvider)
    assert(c(partitionsKey) === "7")
    assert(c("spark.executor.extraClassPath") === "/opt/graft/classes")
    assert(c("spark.graft.reliableCheckpoint") === "true")
    assert(conf("local[4]", 4, 0L, Map("SPARK_GRAFT_STATESTORE" -> "rocksdb"))(
      providerKey) === GraftSession.rocksDbProvider)

    assert(GraftSession.defaultCores(Map.empty) === Runtime.getRuntime.availableProcessors)
    assert(GraftSession.defaultCores(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    assert(GraftSession.defaultMaster(Map("SPARK_GRAFT_CPUS" -> "3")) === "local[3]")
    assert(GraftSession.defaultMaster(Map(
      "SPARK_GRAFT_CPUS" -> "3", "SPARK_GRAFT_MASTER" -> master)) === master)
  }

  test("GraftSession.scala is the only main source that builds a SparkSession") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    def sources(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val builders = sources(root)
      .filter(f => Files.readString(f.toPath).contains("SparkSession.builder"))
      .map(_.getName)
    assert(builders === Seq("GraftSession.scala"))
  }
}
