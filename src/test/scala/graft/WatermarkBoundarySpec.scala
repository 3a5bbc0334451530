package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.streaming.StreamingOps

/** Pins SPARK'S OWN lateness boundary for the stateful twins, measured
  * (round 12): the flatMapGroupsWithState late filter drops rows whose
  * event time is <= the current watermark BEFORE the state function
  * runs. Two consequences every deployment of the out-of-order twins
  * must know, both asserted here so a Spark upgrade that moves the
  * boundary fails loudly:
  *
  *  1. the lateness contract is STRICT — an event late by exactly the
  *     watermark delay is dropped by Spark itself (the engine's
  *     splitRipe never sees it; its own filter keeps boundary-equal
  *     arrivals, so the engine adds no second gate);
  *  2. epoch-0 event times are degenerate at stream START: they equal
  *     the initial watermark (0), so they are dropped even though
  *     nothing is "late" yet. Real corpora (2024-epoch timestamps)
  *     never sit there; synthetic generators must not either.
  *
  * Found by RandomizedEquivalenceSpec-style random replay: a generator
  * that placed events at epoch 0 produced stream/batch mismatches that
  * traced to exactly this filter, not to engine state handling.
  */
class WatermarkBoundarySpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private def replayFiles(files: Seq[Seq[(Long, Timestamp, Long, String, Double)]])
      : DataFrame = {
    import spark.implicits._
    val srcDir = batchFilesDir(
      files.map(_.toDF("event_id", "ts", "user_id", "event_type", "value")))
    spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
  }

  private val heartbeat =
    (-1L, new Timestamp(7258118400L * 1000L), -1L, "view", 0.0)

  test("an arrival at EXACTLY the watermark is dropped by Spark; one " +
      "second past it is delivered (strict lateness)") {
    // batch 0 drives wm to 10000s - 2h = 2800s for later batches
    val stream = replayFiles(Seq(
      Seq((1L, ts(10000), 9L, "view", 1.0)),
      Seq((2L, ts(2800), 2L, "view", 1.0)),  // == wm: dropped by Spark
      Seq((3L, ts(2801), 2L, "view", 1.0)),  // > wm: delivered
      Seq((4L, ts(3000), 2L, "purchase", 1.0)),
      Seq(heartbeat)))
    val rows = StreamingOps.runToMemory(
        StreamingOps.attributionRows(stream), "wmb_strict", OutputMode.Append())
      .select("purchase_event_id", "view_event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the purchase attributes to the SURVIVING view (3), proving view 2
    // never reached the state machine — Spark's filter, not ours:
    // splitRipe keeps boundary-equal arrivals it is handed
    assert(rows === Map(4L -> 3L))
  }

  test("epoch-0 event times equal the INITIAL watermark and are dropped " +
      "at stream start (the degenerate corner synthetic data must avoid)") {
    val stream = replayFiles(Seq(
      Seq((70L, ts(0), 4L, "view", 1.0)),      // == initial wm 0: dropped
      Seq((71L, ts(1200), 4L, "purchase", 1.0)),
      Seq((111L, ts(0), 2L, "purchase", 1.0)),  // dropped entirely
      Seq(heartbeat)))
    val rows = StreamingOps.runToMemory(
        StreamingOps.attributionRows(stream), "wmb_epoch0", OutputMode.Append())
      .select("purchase_event_id", "view_event_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(rows === Map(71L -> -1L)) // 70 and 111 never arrived
  }
}
