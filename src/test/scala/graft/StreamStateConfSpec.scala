package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingOps

/** Pins where stream state is sized: `StreamingOps.stateConf` is a pure
  * function of (events bytes, master, cores), and `runToBatch` applies
  * it to the scoped session each stream runs in, from the events of the
  * corpus that stream reads — so one session serving several corpora
  * sizes each stream for its own. The two rules it combines are pinned
  * in StatePartitionSizingSpec and StateStoreAutoProviderSpec.
  */
class StreamStateConfSpec extends SparkSpec {
  private val MB = 1L << 20
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val partitionsKey = "spark.sql.shuffle.partitions"

  /** A corpus dir whose events table is one sparse file of `bytes`. */
  private def corpusWithEvents(bytes: Long): String = {
    val dir = new File(SparkSpec.tempDir("stream-state-conf"))
    val events = new File(dir, "events.parquet")
    events.mkdirs()
    new File(events, "_SUCCESS").createNewFile()
    val part = new RandomAccessFile(new File(events, "part-00000.parquet"), "rw")
    try part.setLength(bytes) finally part.close()
    dir.getPath
  }

  test("a corpus of known events size resolves through both state rules") {
    val bytes = 20 * MB
    val dir = corpusWithEvents(bytes)
    assert(StreamingOps.eventsBytes(spark, dir) === bytes)
    // two 64 MB executors: 20 MB x 4.2 / 2 per executor is over half the heap
    val master = "local-cluster[2,1,64]"
    val c = StreamingOps.stateConf(StreamingOps.eventsBytes(spark, dir), master, 8).toMap
    assert(c(providerKey) === StreamingOps.autoStateStoreProvider(bytes, 64 * MB, 2))
    assert(c(providerKey) === StreamingOps.rocksDbProvider)
    assert(c(partitionsKey) === StreamingOps.sizeStatePartitions(bytes, 8).toString)
    assert(c(partitionsKey) === "5")
    GraftSession.deleteRecursively(new File(dir))
  }

  test("events bytes: a nested events directory sizes to the sum of its files, " +
      "a single file to its length, an absent table to 0") {
    val nested = SparkSpec.tempDir("nested-events")
    val sizes = Map(
      "events.parquet/_SUCCESS" -> 0,
      "events.parquet/day=1/part-0.parquet" -> 1000,
      "events.parquet/day=1/part-1.parquet" -> 234,
      "events.parquet/day=2/hour=3/part-0.parquet" -> 4096)
    for ((rel, n) <- sizes) {
      val f = Paths.get(nested, rel)
      Files.createDirectories(f.getParent)
      Files.write(f, new Array[Byte](n))
    }
    assert(StreamingOps.eventsBytes(spark, nested) === sizes.values.sum)
    val single = SparkSpec.tempDir("single-events")
    Files.write(Paths.get(single, "events.parquet"), new Array[Byte](777))
    assert(StreamingOps.eventsBytes(spark, single) === 777)
    assert(StreamingOps.eventsBytes(spark, SparkSpec.tempDir("no-events")) === 0)
  }

  test("runToBatch runs each stream under stateConf for the corpus it names, " +
      "leaving the calling session as it was") {
    // the calling session is 16 wide, so the cap does not hide the rule
    val parent = spark.newSession()
    parent.conf.set(partitionsKey, "16")
    val providerBefore = parent.conf.get(providerKey)
    val text = SparkSpec.tempDir("state-conf-text")
    Files.writeString(Paths.get(text, "a.txt"), "x y\nz\n")
    def scopedFor(sfDir: String): SparkSession = {
      var scoped: SparkSession = null
      val out = StreamingOps.runToBatch(parent, sfDir,
        s => { scoped = s; s.readStream.text(text) }, "state_conf", OutputMode.Append())
      assert(out.count() === 2)
      scoped
    }
    // sparse events forecasting state over half this JVM's heap
    val big = corpusWithEvents(Runtime.getRuntime.maxMemory / 4)
    val want = StreamingOps.stateConf(StreamingOps.eventsBytes(spark, big),
      spark.sparkContext.master, 16)
    assert(want.toMap.apply(providerKey) === StreamingOps.rocksDbProvider)
    assert(want.toMap.apply(partitionsKey).toInt > 4)
    val scoped = scopedFor(big)
    assert(scoped ne parent)
    for ((k, v) <- want) assert(scoped.conf.get(k) === v, k)
    // the same session over a corpus without events: the floor, on-heap
    val small = scopedFor(SparkSpec.tempDir("no-events"))
    assert(small.conf.get(partitionsKey) === "4")
    assert(small.conf.get(providerKey) === StreamingOps.onHeapProvider)
    assert(parent.conf.get(partitionsKey) === "16")
    assert(parent.conf.get(providerKey) === providerBefore)
    GraftSession.deleteRecursively(new File(big))
  }

  test("Spark honours a per-session provider: a RocksDB stream records it in " +
      "its checkpoint and equals the on-heap run") {
    import spark.implicits._
    val text = SparkSpec.tempDir("provider-text")
    Files.writeString(Paths.get(text, "a.txt"), "x y z\nx y\n")
    Files.writeString(Paths.get(text, "b.txt"), "y z\nz\n")
    def drained(provider: String): (Map[String, Long], String) = {
      val s = spark.newSession()
      s.conf.set(providerKey, provider)
      val ckpt = SparkSpec.tempDir("provider-ckpt")
      val name = s"provider_${provider.split('.').last}"
      StreamingOps.drain(StreamingOps.tokenCountStream(s, text).writeStream
        .format("memory").queryName(name).outputMode(OutputMode.Complete()), ckpt)
      (s.table(name).as[(String, Long)].collect().toMap,
        Files.readString(Paths.get(ckpt, "offsets", "0")))
    }
    val (rocks, rocksOffsets) = drained(StreamingOps.rocksDbProvider)
    val (heap, heapOffsets) = drained(StreamingOps.onHeapProvider)
    assert(rocksOffsets.contains(StreamingOps.rocksDbProvider))
    assert(!rocksOffsets.contains(StreamingOps.onHeapProvider))
    assert(heapOffsets.contains(StreamingOps.onHeapProvider))
    assert(rocks === heap)
    assert(rocks === Map("x" -> 2L, "y" -> 3L, "z" -> 3L))
  }
}
