package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Pins the one session spec: `GraftSession.sessionConf` is a pure
  * function of (master, cores, env), so its rules and the
  * `SPARK_GRAFT_*` variables are checked here without a SparkContext,
  * and `GraftSession.build` stays the only place a session is built.
  * Stream state is not part of it: each stream sizes its own
  * (`StreamingOps.stateConf`, StreamStateConfSpec).
  */
class GraftSessionSpec extends AnyFunSuite {
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  private def conf(master: String, cores: Int,
                   env: Map[String, String] = Map.empty): Map[String, String] = {
    val kvs = GraftSession.sessionConf(master, cores, env)
    assert(kvs.map(_._1).distinct.size === kvs.size, s"duplicate keys: $kvs")
    kvs.toMap
  }

  test("no corpus, empty env: state rules resolve to Spark's and StreamingOps' defaults") {
    val cores = Runtime.getRuntime.availableProcessors
    val c = conf(s"local[$cores]", cores)
    // the session leaves the provider at Spark's default; a stream over
    // no events gets that provider and the 4-partition floor
    assert(!c.contains(providerKey))
    val state = StreamingOps.stateConf(0L, s"local[$cores]", cores).toMap
    assert(state(providerKey) === SQLConf.STATE_STORE_PROVIDER_CLASS.defaultValueString)
    assert(state("spark.sql.shuffle.partitions") === "4")
    assert(c("spark.sql.shuffle.partitions") === cores.toString)
    // AQE is not set: Spark's own defaults already turn all of it on
    assert(Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED, SQLConf.COALESCE_PARTITIONS_ENABLED,
      SQLConf.SKEW_JOIN_ENABLED).forall(_.defaultValue.contains(true)))
    // a local master sets no executor memory; nothing env-only leaks in
    assert(Seq("spark.executor.memory", "spark.executor.extraClassPath",
      "spark.graft.reliableCheckpoint").forall(k => !c.contains(k)))
  }

  test("each SPARK_GRAFT_* variable overrides its rule") {
    val master = "local-cluster[2,1,64]"
    val c = conf(master, 8, Map(
      "SPARK_GRAFT_EXECUTOR_CLASSPATH" -> "/opt/graft/classes",
      "SPARK_GRAFT_RELIABLE" -> "true"))
    assert(c("spark.executor.extraClassPath") === "/opt/graft/classes")
    assert(c("spark.graft.reliableCheckpoint") === "true")
    assert(c("spark.executor.memory") === "64m")

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
