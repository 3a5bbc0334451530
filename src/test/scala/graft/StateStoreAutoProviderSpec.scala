package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Pins the state-store provider choice `StreamingOps.stateConf` makes
  * for each stream: the measured crossover
  * (bench/statestore_crossover_r16.json) showed the on-heap HDFSBacked
  * provider flat down to ~2.4x heap:state headroom, an executor
  * OOM-cascade DNF at ~1.2x, and RocksDB heap-insensitive but ~2.8x
  * slower when heap is ample — so the rule is: RocksDB iff forecast
  * per-executor state exceeds HALF the executor heap. The forecast
  * multiplies the stateful-input proxy (the stream's corpus's events
  * bytes on disk) by the measured worst-case state ratio (4.2x, the
  * 100x interval join's 901.6 MB of loaded store against 216 MB of
  * events parquet). Every case below replays a MEASURED leg of the
  * crossover record and asserts the rule picks the provider that
  * actually won (or was the only one to complete) there.
  */
class StateStoreAutoProviderSpec extends AnyFunSuite {
  private val MB = 1L << 20
  private val events100x = 216 * MB // the crossover workload's proxy

  test("crossover 512m leg: on-heap OOM-cascaded, RocksDB completed — " +
      "the rule picks RocksDB with no env override") {
    assert(StreamingOps.autoStateStoreProvider(events100x, 512 * MB, 2)
      === StreamingOps.rocksDbProvider)
  }

  test("crossover 1024m leg: on-heap completed at the 2048m time and was " +
      "2.8x faster than RocksDB — the rule keeps on-heap") {
    assert(StreamingOps.autoStateStoreProvider(events100x, 1024 * MB, 2)
      === StreamingOps.onHeapProvider)
    assert(StreamingOps.autoStateStoreProvider(events100x, 2048 * MB, 2)
      === StreamingOps.onHeapProvider)
  }

  test("harness topologies stay on-heap: 1x and 100x on the local[32] 8g JVM") {
    for (events <- Seq(2 * MB, events100x))
      assert(StreamingOps.autoStateStoreProvider(events, 8192 * MB, 1)
        === StreamingOps.onHeapProvider, s"events=$events")
  }

  test("monotone in volume: at fixed heap, growing stateful input flips " +
      "exactly once, to RocksDB") {
    val picks = (1 to 12).map(i =>
      StreamingOps.autoStateStoreProvider((1L << i) * MB, 1024 * MB, 2))
    val flips = picks.sliding(2).count(p => p.head != p.last)
    assert(flips === 1)
    assert(picks.head === StreamingOps.onHeapProvider)
    assert(picks.last === StreamingOps.rocksDbProvider)
  }

  test("more executors spread the same state: a topology that flips at 2 " +
      "executors stays on-heap at 8") {
    assert(StreamingOps.autoStateStoreProvider(events100x, 512 * MB, 2)
      === StreamingOps.rocksDbProvider)
    assert(StreamingOps.autoStateStoreProvider(events100x, 512 * MB, 8)
      === StreamingOps.onHeapProvider)
  }

  test("master-string plumbing: heap and executor count parse from the " +
      "topology Bench/Verify actually pass") {
    assert(StreamingOps.executorHeapBytesFor("local-cluster[2,8,512]") === 512 * MB)
    assert(StreamingOps.executorHeapBytesFor("local-cluster[4, 8, 8192]") === 8192 * MB)
    assert(StreamingOps.numExecutorsFor("local-cluster[2,8,512]") === 2)
    assert(StreamingOps.numExecutorsFor("local[32]") === 1)
    // local[*] masters: state lives in this JVM — heap is the JVM's own
    assert(StreamingOps.executorHeapBytesFor("local[32]")
      === Runtime.getRuntime.maxMemory)
  }
}
