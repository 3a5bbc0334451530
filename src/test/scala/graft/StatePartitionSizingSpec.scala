package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Pins the scale-protocol sizing rule for streaming state partitions
  * (VERDICT r13 #8). The r13 100x record silently ran the interval joins
  * 4-wide on a 32-core box — a 3.0x measured throttle charged to the
  * relation — because the 1x-tuned floor leaked into the scale run. The
  * rule below is what GraftSession.build derives when `SPARK_GRAFT_STREAM_
  * STATE_PARTITIONS` does not override: one partition per 4 MB of stateful
  * input, floored at 4 (the 1x A/B winner), capped at cores. These cases
  * are the contract the BASELINE.md protocol note references.
  */
class StatePartitionSizingSpec extends AnyFunSuite {
  private val MB = 1L << 20

  test("1x harness volume (~2 MB events) sizes to the measured floor of 4") {
    assert(StreamingOps.sizeStatePartitions(2 * MB, 32) === 4)
  }

  test("10x volume (~22 MB) stays near the floor — small state wants few partitions") {
    assert(StreamingOps.sizeStatePartitions(22 * MB, 32) === 5)
  }

  test("100x volume (~216 MB) saturates the 32-core cap — a scale record can " +
      "never silently run 4-wide again (VERDICT r13 #1)") {
    assert(StreamingOps.sizeStatePartitions(216 * MB, 32) === 32)
  }

  test("scale guarantee: any volume past cores*4MB yields >= min(cores, volume/4MB)") {
    for (bytes <- Seq(128L * MB, 1L << 30, 100L * (1L << 30)); cores <- Seq(8, 32, 256)) {
      val got = StreamingOps.sizeStatePartitions(bytes, cores)
      assert(got >= math.min(cores, bytes / (4 * MB)).toInt,
        s"bytes=$bytes cores=$cores sized $got — a throttled scale record")
      assert(got <= math.max(cores, 4))
    }
  }

  test("monotonic in volume; never below the floor even at zero bytes") {
    val sizes = Seq(0L, MB, 8 * MB, 64 * MB, 512 * MB, 4L << 30)
      .map(StreamingOps.sizeStatePartitions(_, 32))
    assert(sizes === sizes.sorted)
    assert(sizes.head === 4)
    assert(StreamingOps.sizeStatePartitions(0L, 2) === 4)
  }
}
