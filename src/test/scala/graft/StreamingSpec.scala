package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.StreamingOps

/** Drives the Structured Streaming twins end-to-end with file sources and
  * a memory sink (`StreamingOps.runToMemory`, which drains the query
  * and returns the sink as a frame), asserting the incremental results
  * equal the batch semantics.
  */
class StreamingSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  private def eventsDir: String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-stream-ev")
    Seq(
      (1L, ts(0), 1L, "click", 1.5),
      (2L, ts(10), 1L, "click", 2.5),
      (3L, ts(4000), 1L, "view", 1.0),
      (4L, ts(3700), 2L, "click", 4.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def streamEvents(dir: String): DataFrame =
    spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType))))
      .parquet(dir)

  /** `files` as a replay source: file i holds the events whose ids it
    * lists, and id -1 is the far-future heartbeat that closes the stream.
    */
  private def replayDir(all: Seq[(Long, Timestamp, Long, String, Double)],
                        files: Seq[Seq[Long]]): String = {
    import spark.implicits._
    val byId = all.map(e => e._1 -> e).toMap
    batchFilesDir(files.map(_.map {
      case -1L => (-1L, new Timestamp(7258118400L * 1000L), -1L, "view", 0.0)
      case id  => byId(id)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")))
  }

  test("streaming token count equals the batch count (reference pipeline, incremental)") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-stream-txt")
    Files.writeString(java.nio.file.Paths.get(dir, "a.txt"), "x y x\nz x\n")
    Files.writeString(java.nio.file.Paths.get(dir, "b.txt"), "y  z\n")
    val got = StreamingOps.runToMemory(
        StreamingOps.tokenCountStream(spark, dir), "tok_counts")
      .orderBy("token").as[(String, Long)].collect().toSeq
    assert(got === Seq(("x", 3L), ("y", 2L), ("z", 2L)))
  }

  test("windowed event counts with watermark: tumbling hour buckets") {
    import spark.implicits._
    StreamingOps.runToMemory(
      StreamingOps.windowedEventCounts(streamEvents(eventsDir)), "win_counts")
    val got = spark.sql(
      "SELECT cast(win_start AS LONG), event_type, n FROM win_counts ORDER BY 1, 2")
      .as[(Long, String, Long)].collect().toSeq
    assert(got === Seq((0L, "click", 2L), (3600L, "click", 1L), (3600L, "view", 1L)))
  }

  test("append mode: watermark evicts finalized windows, holds open ones") {
    import spark.implicits._
    // max event time = 40000s -> watermark 40000 - 7200 = 32800s:
    // window [0,3600) and [3600,7200) are finalized (end <= wm) and
    // emitted exactly once; window [39600,43200) is still open when
    // input ends and must NOT appear
    val dir = SparkSpec.tempDir("graft-stream-app")
    Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(3700), 1L, "click", 2.0),
      (3L, ts(40000), 1L, "view", 3.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    StreamingOps.runToMemory(
      StreamingOps.windowedEventCounts(streamEvents(dir)), "app_win",
      OutputMode.Append())
    val got = spark.sql(
      "SELECT cast(win_start AS LONG), event_type, n FROM app_win ORDER BY 1")
      .as[(Long, String, Long)].collect().toSeq
    assert(got === Seq((0L, "click", 1L), (3600L, "click", 1L)), s"got $got")
  }

  test("append sessions: watermark-equal session end IS emitted, open session held") {
    import spark.implicits._
    // events at 0s and 9000s: session {0} ends at 1800s (0 + 30min gap),
    // final watermark = 9000 - 7200 = 1800s — exactly the session end,
    // which pins the emission boundary at end <= wm (the oracle's
    // condition); session {9000} is still open and must not appear
    val dir = SparkSpec.tempDir("graft-stream-sapp")
    Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(9000), 1L, "click", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    StreamingOps.runToMemory(
      StreamingOps.sessionizedEvents(streamEvents(dir)), "sapp", OutputMode.Append())
    val got = spark.sql(
      "SELECT cast(sess_start AS LONG), n_events FROM sapp ORDER BY 1")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 1L)), s"got $got")
  }

  test("session_window boundary: exactly 30 min MERGES; beyond it splits") {
    import spark.implicits._
    // pins the boundary the stream_sessions oracle must reproduce:
    // session_window merges an event landing exactly at the window end
    // (gap-touching), so a new session starts only when diff > gap
    val dir = SparkSpec.tempDir("graft-stream-gap")
    Seq(
      (1L, ts(0), 9L, "click", 1.0),
      (2L, ts(1800), 9L, "click", 1.0), // exactly gap after -> still merged
      (3L, ts(3601), 9L, "click", 1.0)  // 1801s after #2 -> new session
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    StreamingOps.runToMemory(
      StreamingOps.sessionizedEvents(streamEvents(dir)), "gap_sess")
    val got = spark.sql(
      "SELECT cast(sess_start AS LONG), n_events FROM gap_sess ORDER BY 1")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 2L), (3601L, 1L)), s"got $got")
  }

  test("streaming session windows: 30-min gap splits a user's sessions") {
    import spark.implicits._
    StreamingOps.runToMemory(
      StreamingOps.sessionizedEvents(streamEvents(eventsDir)), "sess")
    val got = spark.sql(
      "SELECT user_id, count(*) FROM sess GROUP BY user_id ORDER BY user_id")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (2L, 1L))) // user 1: two sessions
  }

  test("streaming minhash dedup suppresses sketch-identical docs") {
    import spark.implicits._
    // doc 2 normalizes DIFFERENTLY from doc 1 (leading spaces survive the
    // raw text) but tokenizes to the same shingle set -> same sketch ->
    // suppressed; doc 3 is disjoint -> second signature; doc 4 has < 3
    // tokens -> no shingles -> no sketch row
    val dir = SparkSpec.tempDir("graft-stream-fz")
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, base, "en", "s", base.length.toLong),
      (2L, "  " + base, "en", "s", base.length.toLong + 2),
      (3L, (1 to 20).map(i => s"z$i").mkString(" "), "en", "s", 100L),
      (4L, "one two", "en", "s", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir)
    // streamMinhashDedup reads $sfDir/documents.parquet — rebuild layout
    val sfDir = SparkSpec.tempDir("graft-stream-fzsf")
    spark.read.parquet(dir).write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    val sigs = StreamingOps.streamMinhashDedup(spark, sfDir)
      .as[String].collect().toSeq
    assert(sigs.length === 2, s"expected 2 distinct sketches, got $sigs")
  }

  test("bounded dedup: suppression inside the watermark window, re-emission after eviction") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    // drives dropDuplicatesWithinWatermark (the streamExactDedupBounded /
    // streamMinhashDedupBounded retention core) batch by batch: a key
    // re-arriving while its state lives is suppressed; once the watermark
    // passes key time + delay the state is EVICTED and a later arrival of
    // the same key is re-emitted — the explicit trade the bounded twins
    // make so state holds one retention window, not the stream's history
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val deduped = ms.toDF().toDF("key", "tsec")
      .withColumn("ingest_ts", timestamp_seconds(col("tsec")))
      .withWatermark("ingest_ts", "100 seconds")
      .dropDuplicatesWithinWatermark("key")
    val q = deduped.writeStream.format("memory").queryName("bounded_dedup")
      .outputMode("append").start()
    try {
      ms.addData(("A", 0L), ("B", 10L))
      q.processAllAvailable() // A, B emitted; watermark still pre-epoch
      ms.addData(("A", 50L))
      q.processAllAvailable() // A alive in state -> suppressed
      ms.addData(("C", 1000L))
      q.processAllAvailable() // emitted; watermark -> 900: A (expiry 100) evicted
      ms.addData(("A", 950L))
      q.processAllAvailable() // arrives after eviction -> re-emitted
      val got = spark.sql("SELECT key, count(*) FROM bounded_dedup GROUP BY key")
        .as[(String, Long)].collect().toMap
      assert(got === Map("A" -> 2L, "B" -> 1L, "C" -> 1L), s"got $got")
    } finally q.stop()
  }

  test("bounded stream dedup twins match the unbounded twins on a single-window corpus") {
    import spark.implicits._
    val sfDir = tempSfDir()
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    writeTable(sfDir, "documents", Seq(
      (1L, base, "en", "s", base.length.toLong),
      (2L, "  " + base.toUpperCase + "  ", "en", "s", base.length.toLong + 4),
      (3L, (1 to 20).map(i => s"z$i").mkString(" "), "en", "s", 100L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val exactU = StreamingOps.streamExactDedup(spark, sfDir).as[String].collect().toSet
    val exactB = StreamingOps.streamExactDedupBounded(spark, sfDir).as[String].collect().toSet
    assert(exactB === exactU && exactB.size === 2)
    val fuzzyU = StreamingOps.streamMinhashDedup(spark, sfDir).as[String].collect().toSet
    val fuzzyB = StreamingOps.streamMinhashDedupBounded(spark, sfDir).as[String].collect().toSet
    assert(fuzzyB === fuzzyU && fuzzyB.size === 2)
  }

  test("streaming incremental probe flags arrivals against the persisted index") {
    import spark.implicits._
    val sfDir = tempSfDir()
    // existing corpus (% 10 != 0): docs 1, 2; arrivals (% 10 == 0):
    // 10 is an exact copy of 1, 20 matches nothing
    writeTable(sfDir, "documents", Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s", 35L),
      (2L, "one two three four five six seven", "en", "s", 33L),
      (10L, "alpha beta gamma delta epsilon zeta", "en", "s", 35L),
      (20L, "completely novel text with fresh words", "en", "s", 38L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = StreamingOps.streamIncrementalDedup(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((10L, 1L, 1.0)), s"got $got")
  }

  test("streaming decontamination flags docs overlapping the eval set") {
    import spark.implicits._
    val sfDir = tempSfDir()
    // doc 0 (0 % 97 == 0) is the eval doc: shingles {a b c, b c d, c d e, d e f}
    writeTable(sfDir, "documents", Seq(
      (0L, "a b c d e f", "en", "s", 11L),
      (1L, "a b c d e f g", "en", "s", 13L), // 4 eval shingles >= 3 -> flagged
      (2L, "z y x w v u t", "en", "s", 13L), // no overlap
      (3L, "a b c d x", "en", "s", 9L)       // 2 overlaps < 3 -> kept
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = StreamingOps.streamDecontaminate(spark, sfDir)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 4L)), s"got $got")
  }

  test("outer stream join: matched emit on arrival, unmatched only past the watermark, strictly") {
    import spark.implicits._
    val sfDir = tempSfDir()
    def nanos(sec: Long): Long = sec * 1000000000L
    // wm = min(max view 60000, max purchase 50000) - 7200 = 42800s
    //  purchase 20 (t=1500): matched by view 10 -> emits with attribution
    //  purchase 21 (t=2000): unmatched, 2000 < 42800 -> emits with NULLs
    //  purchase 23 (t=42800): unmatched, AT the watermark -> held (strict <)
    //  purchase 22 (t=50000): unmatched, past the watermark -> held
    writeTable(sfDir, "events", Seq(
      (10L, nanos(1000L), 1L, "view", 1.0, "{}"),
      (11L, nanos(60000L), 3L, "view", 1.0, "{}"),
      (20L, nanos(1500L), 1L, "purchase", 9.0, "{}"),
      (21L, nanos(2000L), 2L, "purchase", 9.0, "{}"),
      (23L, nanos(42800L), 4L, "purchase", 9.0, "{}"),
      (22L, nanos(50000L), 2L, "purchase", 9.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = StreamingOps.streamViewPurchaseJoinOuter(spark, sfDir)
      .select("purchase_event_id", "view_event_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq
    assert(got === Seq((20L, 10L), (21L, -1L)), s"got $got")
  }

  test("flatMapGroupsWithState dedup machine: first arrival emits, rest swallowed") {
    import spark.implicits._
    val sfDir = tempSfDir()
    // docs 1 and 2 normalize to the same content key; doc 3 differs
    writeTable(sfDir, "documents", Seq(
      (1L, "Same   Doc", "en", "s", 10L),
      (2L, "same doc", "en", "s", 8L),
      (3L, "other", "en", "s", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = StreamingOps.streamExactDedupCustom(spark, sfDir)
      .as[String].collect().toSeq
    val expected = Seq("same doc", "other")
      .map(s => java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .sorted
    assert(got === expected)
  }

  test("foreachBatch shard sink: partitioned append, deterministic buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val sfDir = tempSfDir()
    writeTable(sfDir, "documents", Seq(
      (0L, "a", "en", "s", 1L), (1L, "b", "en", "s", 1L),
      (2L, "c", "en", "s", 1L), (3L, "d", "en", "s", 1L),
      (4L, "e", "en", "s", 1L), (5L, "f", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = tempSfDir() + "/shards"
    StreamingOps.streamWriteHashShards(spark, sfDir, out, nShards = 4)
    val back = spark.read.parquet(out)
    assert(back.count() === 6)
    // shard assignment matches the batch-side expression exactly
    val expected = GraftSession.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        pmod(graft.functions.OracleHash.h60(col("doc_id").cast("string")), lit(4L))
          .as("shard"))
      .as[(Long, Long)].collect().toMap
    val got = back.select(col("doc_id"), col("shard_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got === expected)
  }

  test("stream-stream interval join: inclusive 1h lookback, same-user only") {
    import spark.implicits._
    val sfDir = tempSfDir()
    def nanos(sec: Long): Long = sec * 1000000000L
    // purchase p (id 20, user 1, t=5000s); candidate views:
    //  id 10 t=1000s  -> 4000s before: outside the hour, excluded
    //  id 11 t=1400s  -> exactly 3600s before: inclusive boundary, kept
    //  id 12 t=5000s  -> equal ts: v_ts <= p_ts inclusive, kept
    //  id 13 t=5200s  -> after the purchase, excluded
    //  id 14 t=4900s user 2 -> wrong user, excluded
    writeTable(sfDir, "events", Seq(
      (10L, nanos(1000L), 1L, "view", 1.0, "{}"),
      (11L, nanos(1400L), 1L, "view", 1.0, "{}"),
      (12L, nanos(5000L), 1L, "view", 1.0, "{}"),
      (13L, nanos(5200L), 1L, "view", 1.0, "{}"),
      (14L, nanos(4900L), 2L, "view", 1.0, "{}"),
      (20L, nanos(5000L), 1L, "purchase", 9.0, "{}"),
      (21L, nanos(100L), 3L, "purchase", 9.0, "{}") // no views at all
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = StreamingOps.streamViewPurchaseJoin(spark, sfDir)
      .select("purchase_event_id", "view_event_id", "lag_us")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((20L, 11L, 3600000000L), (20L, 12L, 0L)), s"got $got")
  }

  test("mapGroupsWithState running totals (custom state machine)") {
    import spark.implicits._
    StreamingOps.runToMemory(
      StreamingOps.runningUserTotals(spark, streamEvents(eventsDir)),
      "running", OutputMode.Update())
    val got = spark.sql(
      "SELECT user_id, n_events, total_value_micros FROM running ORDER BY user_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 3L, 5000000L), (2L, 1L, 4000000L)))
  }

  test("streaming funnel: depth machine matches the batch funnel on the offender corpus") {
    val sfDir = tempSfDir()
    def nanos(sec: Long): Long = sec * 1000000000L
    import spark.implicits._
    // the batch EventWindowsSpec funnel fixture verbatim: users 1-5
    // reach depths 3, 1, 2, 0, 3
    writeTable(sfDir, "events", Seq(
      (1L, nanos(10), 1L, "view", 1.0, "p"),
      (2L, nanos(20), 1L, "click", 1.0, "p"),
      (3L, nanos(30), 1L, "purchase", 1.0, "p"),
      (4L, nanos(10), 2L, "click", 1.0, "p"),
      (5L, nanos(20), 2L, "view", 1.0, "p"),
      (6L, nanos(30), 2L, "purchase", 1.0, "p"),
      (7L, nanos(10), 3L, "view", 1.0, "p"),
      (8L, nanos(10), 3L, "click", 1.0, "p"),
      (9L, nanos(5), 3L, "purchase", 1.0, "p"),
      (10L, nanos(10), 4L, "purchase", 1.0, "p"),
      (11L, nanos(10), 5L, "view", 1.0, "p"),
      (12L, nanos(15), 5L, "click", 1.0, "p"),
      (13L, nanos(15), 5L, "purchase", 1.0, "p")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val stream = StreamingOps.streamFunnel(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(stream === Seq((1L, "view", 4L), (2L, "click", 3L), (3L, "purchase", 2L)))
    val batch = graft.ops.EventWindows.funnel(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(stream === batch)
  }

  test("streaming transitions equal the batch transition matrix") {
    val sfDir = tempSfDir()
    def nanos(sec: Long): Long = sec * 1000000000L
    import spark.implicits._
    // user 1: view -> click -> click; user 2: purchase -> view;
    // user 3: single event (no transition); equal-ts tie for user 1's
    // first two events breaks by event_id on both sides
    writeTable(sfDir, "events", Seq(
      (1L, nanos(10), 1L, "view", 1.0, "p"),
      (2L, nanos(10), 1L, "click", 1.0, "p"),
      (3L, nanos(30), 1L, "click", 1.0, "p"),
      (4L, nanos(10), 2L, "purchase", 1.0, "p"),
      (5L, nanos(20), 2L, "view", 1.0, "p"),
      (6L, nanos(10), 3L, "signup", 1.0, "p")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val stream = StreamingOps.streamTransitions(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(stream === Seq(
      ("click", "click", 1L, 1000000L),
      ("purchase", "view", 1L, 1000000L),
      ("view", "click", 1L, 1000000L)))
    val batch = graft.ops.EventWindows.eventTransitions(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(stream === batch)
  }

  test("out-of-order replay: funnel/attribution/transitions match batch across shuffled micro-batches") {
    import spark.implicits._
    // events spanning 0.2h-5h with a 2h watermark delay; micro-batch
    // files deliberately violate event-time order (each file's
    // earliest event predates the previous file's latest by up to
    // ~1.5h — inside the delay, so nothing is out of contract)
    val all = Seq(
      (1L, ts(720), 1L, "view", 1.0),
      (2L, ts(1800), 1L, "click", 1.0),
      (3L, ts(5400), 1L, "purchase", 1.0),
      (4L, ts(1900), 2L, "click", 1.0),
      (5L, ts(2000), 2L, "view", 1.0),
      (6L, ts(10800), 2L, "purchase", 1.0),
      (7L, ts(3600), 3L, "view", 1.0),
      (8L, ts(5400), 3L, "click", 1.0),
      (9L, ts(18000), 3L, "purchase", 1.0),
      (10L, ts(1800), 4L, "purchase", 1.0),
      (11L, ts(1800), 5L, "view", 1.0),
      (12L, ts(1800), 5L, "click", 1.0),
      (13L, ts(1800), 5L, "purchase", 1.0))
    val files = Seq(
      Seq(2L, 4L, 5L, 7L, 10L, 12L, 13L), // batch 1: mid events first
      Seq(1L, 6L, 11L),                   // batch 2: 0.2h arrives AFTER 1h
      Seq(3L, 8L, 9L),                    // batch 3: 1.5h after 3h
      Seq(-1L))                           // heartbeat closes the stream
    val srcDir = replayDir(all, files)
    def replay(): DataFrame = spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    // the batch side sees only the real events, in one tidy table
    val sfDir = tempSfDir()
    writeTable(sfDir, "events",
      all.toDF("event_id", "ts", "user_id", "event_type", "value"))

    // funnel: roll emitted (user, depth) updates to final max-depth
    val depths = StreamingOps.runToMemory(
        StreamingOps.funnelDepths(replay()), "ooo_funnel", OutputMode.Update())
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val got = (1 to 3).map(k => depths.values.count(_ >= k).toLong)
    val batch = graft.ops.EventWindows.funnel(spark, sfDir).collect()
      .map(_.getLong(2)).toSeq
    assert(got === batch && got === Seq(4L, 3L, 3L))

    // attribution: appended rows are exactly the batch as-of relation
    val attr = StreamingOps.runToMemory(
        StreamingOps.attributionRows(replay()), "ooo_attr", OutputMode.Append())
      .select("purchase_event_id", "user_id", "purchase_tus",
        "view_event_id", "view_tus", "lag_us")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(attr.toSeq === graft.ops.EventWindows.asOfAttribution(spark, sfDir)
      .collect().map(_.toSeq).toSeq)

    // transitions: emitted pairs collapse to the batch matrix
    val pairs = StreamingOps.runToMemory(
        StreamingOps.transitionPairs(replay()), "ooo_trans", OutputMode.Update())
      .as[(String, String)].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(pairs === graft.ops.EventWindows.eventTransitions(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
  }

  test("micro-batch-boundary invariance: manifest/rfm/best_rep identical under different splits") {
    import spark.implicits._
    // the Complete-mode twins claim their accumulators are commutative
    // (count / sum / max / modular-sum / argmax-struct) — pin it by
    // replaying the SAME rows under two different file-to-batch splits
    // and requiring bit-identical final state
    def run(frame: DataFrame => DataFrame, schema: StructType,
            dir: String, name: String): Seq[Seq[Any]] = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      StreamingOps.runToMemory(frame(src), name, OutputMode.Complete())
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val words = "the data of a corpus and more tokens to fill in is on " * 2
    val docs = (1L to 9L).map(i =>
      (i, s"$words doc ${i % 3}", "en", s"src${i % 2}", 10L + i))
    val events = (1L to 12L).map(i =>
      (i, ts(i * 4000), i % 4, if (i % 3 == 0) "purchase" else "view", i * 1.5))
    val docSplitA = Seq(docs.take(7), docs.drop(7))
    val docSplitB = Seq(docs.take(3), docs.slice(3, 6), docs.drop(6))
    val evSplitA = Seq(events.take(9), events.drop(9))
    val evSplitB = Seq(events.take(4), events.slice(4, 8), events.drop(8))
    def docDf(rows: Seq[(Long, String, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    def evDf(rows: Seq[(Long, Timestamp, Long, String, Double)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")

    for ((frame, nm) <- Seq(
        (StreamingOps.manifestFrame _, "split_manifest"),
        ((d: DataFrame) => graft.ops.Dedup.bestRepFrame(d), "split_bestrep"))) {
      val a = run(frame, docSchema, batchFilesDir(docSplitA.map(docDf)), s"${nm}_a")
      val b = run(frame, docSchema, batchFilesDir(docSplitB.map(docDf)), s"${nm}_b")
      assert(a === b, s"$nm diverged across splits")
      assert(a.nonEmpty)
    }
    val ra = run(StreamingOps.rfmStateFrame _, evSchema,
      batchFilesDir(evSplitA.map(evDf)), "split_rfm_a")
    val rb = run(StreamingOps.rfmStateFrame _, evSchema,
      batchFilesDir(evSplitB.map(evDf)), "split_rfm_b")
    assert(ra === rb && ra.nonEmpty, "rfm state diverged across splits")
  }

  test("streaming mix sample equals the batch sampler (stateless hash decisions)") {
    import spark.implicits._
    val sfDir = tempSfDir()
    writeTable(sfDir, "documents", (1L to 40L).map(i =>
      (i, s"doc $i text", "en", s"src${i % 3}", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val stream = StreamingOps.streamMixSample(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val batch = graft.ops.Corpus.mixSample(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(stream === batch)
  }

  test("stateless scrub and classifier twins equal their batch forms row-for-row") {
    import spark.implicits._
    val sfDir = tempSfDir()
    writeTable(sfDir, "documents", Seq(
      (1L, "spark is fast", "en", "s", 13L),
      (2L, "customer spark vector", "en", "s", 21L),
      (3L, "plain words only", "en", "s", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val sScrub = StreamingOps.streamScrub(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val bScrub = graft.ops.TextAnalysis.scrubDocs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(sScrub === bScrub)
    val sCls = StreamingOps.streamClassifier(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    val bCls = graft.ops.TextAnalysis.classifierScore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(sCls === bCls)
    // the JSON file-sink twin: streamed files carry exactly the corpus
    val sink = StreamingOps.streamJsonSink(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val direct = graft.sources.JsonLines.profile(
        spark.read.parquet(s"$sfDir/documents.parquet")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(sink === direct)
  }

  test("bm25 percolation twin equals the batch scorer's match relation") {
    import spark.implicits._
    val sfDir = tempSfDir()
    // ids 100/200 land on the corpus-derived workload rule (smallest
    // doc_id % 100 == 0 docs); doc 3 shares no vocabulary with them
    writeTable(sfDir, "documents", Seq(
      (100L, "spark table join table", "en", "s", 22L),
      (200L, "fast scan scan filter table", "en", "s", 27L),
      (3L, "plain words only", "en", "s", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val s = StreamingOps.streamBm25(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 3 docs < k=5, so the batch top-k holds EVERY match: same relation
    val b = graft.ops.TextAnalysis.bm25TopK(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).toSet
    assert(s === b)
    assert(s.nonEmpty && s.map(_._1).contains(100L))
    // doc 3 matches no stored query: percolator must not emit it
    assert(!s.map(_._1).contains(3L))
  }

  test("source cap admission: first k per source admitted, the rest dropped in flight") {
    import spark.implicits._
    val sfDir = tempSfDir()
    writeTable(sfDir, "documents", (
      Seq(4L, 2L, 7L, 1L).map(i => (i, "t", "en", "a", 1L)) :+ ((9L, "t", "en", "b", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = StreamingOps.streamSourceCap(spark, sfDir, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // matches the batch cap's kept set (minus its n_docs column)
    val batch = graft.ops.Corpus.sourceCap(spark, sfDir, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq
    assert(rows === batch)
    assert(rows === Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 9L, 1L)))
  }

  test("streaming weighted sample: winner set equals the batch sampler, evictions included") {
    import spark.implicits._
    val sfDir = tempSfDir()
    // heavy doc 7 must displace lighter residents regardless of arrival
    // order; k=2 so at least one admitted-then-evicted doc exists
    writeTable(sfDir, "documents",
      (1L to 10L).map(i => (i, "t", "en", "a", if (i == 7L) 1000000L else 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = StreamingOps.streamWeightedSample(spark, sfDir, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // matches the batch sampler's kept set (minus its w_total column)
    val batch = graft.ops.Corpus.weightedSample(spark, sfDir, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(rows === batch)
    assert(rows.map(_._3).contains(7L)) // the heavy doc won a slot
  }

  test("streaming phash: stateless ingest hashing equals the batch relation") {
    import spark.implicits._
    val sfDir = tempSfDir()
    writeTable(sfDir, "documents",
      Seq(0L, 1L, 2L, 4L).map(i => (i, "t", "en", "s", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val streamed = StreamingOps.streamImageAHash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val batch = graft.ops.Multimodal.imageAHash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(streamed === batch)
    assert(streamed.map(_._1) === Seq(0L, 2L, 4L)) // odd ids are not images
  }

  test("streaming best-rep: a later better variant replaces the kept one in state") {
    import spark.implicits._
    val dir = tempSfDir()
    // doc 9 arrives with the SAME normalized content as doc 5 but more
    // raw chars: the state accumulator must swap the survivor to 9 —
    // first-wins dropDuplicates would have frozen 5
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    writeTable(dir, "documents", Seq(
      (5L, base, "en", "s", base.length.toLong),
      (9L, "  " + base + "  ", "en", "s", base.length.toLong + 4),
      (7L, "solo doc", "en", "s", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = StreamingOps.streamBestRep(spark, dir).collect()
      .map(r => (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_copies"),
        r.getAs[Long]("min_doc_id"), r.getAs[Boolean]("diverges_from_min_id"))).toSeq
    assert(rows === Seq((7L, 1L, 7L, false), (9L, 2L, 5L, true)))
  }

  test("streaming sketch profile matches the batch profile's totals and gate") {
    import spark.implicits._
    val dir = tempSfDir()
    // token "x" spans both docs of s1: the state-store sketch union
    // must dedup it (estimate 3, not 4) for the 5% gate to hold
    writeTable(dir, "documents", Seq(
      (0L, "x a", "en", "s1", 3L),
      (1L, "x b", "en", "s1", 3L),
      (2L, "y y y", "en", "s2", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = StreamingOps.streamSketchProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(rows === Seq(("s1", 4L, true), ("s2", 3L, true)))
  }

  test("streaming substring probe: arriving spans flagged vs history only") {
    import spark.implicits._
    val dir = tempSfDir()
    val base = (1 to 12).map(i => s"w$i").mkString(" ")  // history (1 % 4 != 0)
    val span = (3 to 10).map(i => s"w$i").mkString(" ")  // = base window @3
    val uniq = (1 to 8).map(i => s"z$i").mkString(" ")
    writeTable(dir, "documents", Seq(
      (1L, base, "en", "s", base.length.toLong),
      (4L, span, "en", "s", span.length.toLong),  // arrives: dup vs history
      (8L, uniq, "en", "s", uniq.length.toLong),  // arrives: fresh-fresh only
      (12L, uniq, "en", "s", uniq.length.toLong)  //   -> NOT flagged here
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = StreamingOps.streamSubstringProbe(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // unlike dedup_substring_refresh, within-batch dups (8, 12) are NOT
    // the probe's concern — only history hits flag
    assert(rows === Seq(
      (4L, 1L, 1L, 1000L),
      (8L, 1L, 0L, 0L),
      (12L, 1L, 0L, 0L)))
  }

  test("streaming profile fold-in: per-batch sketches land in the store, union gated") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (0L, "x a", "en", "s1", 3L),
      (1L, "x b", "en", "s1", 3L),
      (2L, "y y y", "en", "s2", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = StreamingOps.streamProfileFold(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(rows === Seq(("s1", 4L, 3L, true), ("s2", 3L, 1L, true)))
    // the store itself is queryable after the stream: bucketed rollup
    val name = graft.sources.Bucketed.scopedName(spark, "graft_profile_store_stream")
    assert(spark.table(name).count() >= 2L)
  }

  test("restart from checkpoint: processed input is not re-ingested, new input is") {
    import spark.implicits._
    val in = SparkSpec.tempDir("graft-restart-in")
    val out = SparkSpec.tempDir("graft-restart-out") + "/data"
    val ckpt = SparkSpec.tempDir("graft-restart-ck")
    // the production restart discipline: source progress lives in the
    // checkpoint, output commits ride the file-sink transaction log —
    // the SAME query (same checkpoint + sink path) stops and resumes
    // with exactly-once end-to-end
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("value", StringType))))
        .text(in)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    Seq("a", "b").toDF("value").coalesce(1).write.mode("append").text(in)
    runOnce()
    Seq("c").toDF("value").coalesce(1).write.mode("append").text(in)
    runOnce()
    val got = spark.read.parquet(out).as[String].collect().sorted.toSeq
    assert(got === Seq("a", "b", "c")) // a,b exactly once; c picked up
  }

  test("RANDOMIZED out-of-order replay: funnel/attribution/transitions match " +
      "batch under arbitrary arrival order (watermark delay covers the span)") {
    import scala.util.Random
    import spark.implicits._
    // the stateful twins' 2h watermark delay exceeds this corpus's whole
    // event-time span, so EVERY arrival order is inside the lateness
    // contract — the stream must reproduce batch exactly no matter how
    // the shuffle interleaves users, steps and duplicates across files
    for (seed <- Seq(67, 907)) {
      val rnd = new Random(seed)
      val types = Seq("view", "click", "purchase")
      // event times start at 300s, never epoch 0: an epoch-0 event time
      // equals the INITIAL watermark and Spark's own late filter drops it
      // before any state function runs (WatermarkBoundarySpec pins that)
      val all = (1L to 120L).map { id =>
        (id, ts((rnd.nextInt(23) + 1) * 300L), (rnd.nextInt(5) + 1).toLong,
          types(rnd.nextInt(3)), 1.0)
      }
      val order = rnd.shuffle(all)
      val files = order.grouped(25).toSeq.map(_.map(_._1)) :+ Seq(-1L)
      val srcDir = replayDir(all, files)
      def replay(): DataFrame = spark.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val sfDir = tempSfDir()
      writeTable(sfDir, "events",
        all.toDF("event_id", "ts", "user_id", "event_type", "value"))

      val depths = StreamingOps.runToMemory(
          StreamingOps.funnelDepths(replay()), s"rnd_ooo_funnel_$seed", OutputMode.Update())
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val got = (1 to 3).map(k => depths.values.count(_ >= k).toLong)
      assert(got === graft.ops.EventWindows.funnel(spark, sfDir).collect()
        .map(_.getLong(2)).toSeq, s"seed=$seed funnel")

      val attr = StreamingOps.runToMemory(
          StreamingOps.attributionRows(replay()), s"rnd_ooo_attr_$seed", OutputMode.Append())
        .select("purchase_event_id", "user_id", "purchase_tus",
          "view_event_id", "view_tus", "lag_us")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(attr.toSeq === graft.ops.EventWindows.asOfAttribution(spark, sfDir)
        .collect().map(_.toSeq).toSeq, s"seed=$seed attribution")

      val pairs = StreamingOps.runToMemory(
          StreamingOps.transitionPairs(replay()), s"rnd_ooo_trans_$seed", OutputMode.Update())
        .as[(String, String)].collect()
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      assert(pairs === graft.ops.EventWindows.eventTransitions(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
        s"seed=$seed transitions")
    }
  }
}
