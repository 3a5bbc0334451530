package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, window}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import graft.ops.UrlCount
import graft.streaming.StreamingOps

/** Spark-native analog of the reference's failure-injection suite
  * (/root/reference/src/mapreduce/test_test.go:193-227 TestOneFailure /
  * TestManyFailures, backed by the re-queue-on-failure scheduler path
  * schedule.go:75-77): the reference kills workers mid-job and asserts
  * the golden output still appears. Here the scheduler IS Spark
  * (spark.task.maxFailures via local[4, 2] in SparkSpec), so the test
  * injects a one-shot task failure and asserts the retried job still
  * produces the exact expected result.
  */
object FaultToleranceSpec {
  // JVM-static so the injected failure state survives task retries
  // (local mode: tasks run in this JVM)
  val failedOnce = new AtomicBoolean(false)
  val streamFailedOnce = new AtomicBoolean(false)
}

class FaultToleranceSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll with TimeLimits {

  // Task retry needs maxFailures >= 2, which the shared local[4] test
  // session deliberately lacks (retry there would mask real flakes —
  // ADVICE r3). Suites run sequentially in the forked test JVM, so this
  // suite stops whatever session is active, runs on its own local[4, 2],
  // and stops it afterwards; the next suite's getOrCreate then rebuilds
  // the shared local[4] session.
  override lazy val spark: org.apache.spark.sql.SparkSession = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(_.stop())
    GraftSession.build("graft-test-ft", "local[4, 2]", shufflePartitions = 4)
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }

  test("task failure is retried and the job still yields the golden counts") {
    import spark.implicits._
    val lines = (0 until 100).map(i => s"tok${i % 7} tok${i % 3}")
    val expected = lines.flatMap(_.split(" ")).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }

    FaultToleranceSpec.failedOnce.set(false)
    val flaky = spark.createDataset(lines).toDF("text")
      .repartition(4)
      .mapPartitions { it =>
        if (FaultToleranceSpec.failedOnce.compareAndSet(false, true))
          throw new RuntimeException("injected one-shot task failure")
        it
      }(org.apache.spark.sql.Encoders.row(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))))

    val got = UrlCount.tokenCounts(flaky, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(FaultToleranceSpec.failedOnce.get, "failure was injected")
    assert(got === expected)
  }

  test("a task failure inside a stateful stream is retried and the sink equals the batch count") {
    import spark.implicits._
    val dir = tempSfDir()
    Seq("a.txt" -> "x y x\nz x\n", "b.txt" -> "y  z w\n", "c.txt" -> "w x\n")
      .foreach { case (f, text) => Files.writeString(Paths.get(dir, f), text) }
    // the failure lands in the stage that holds the aggregation state,
    // after that partition's state is saved for the batch: the retried
    // attempt must rebuild it from the previous version, not add twice
    FaultToleranceSpec.streamFailedOnce.set(false)
    val counts = StreamingOps.tokenCountStream(spark, dir)
    val flaky = counts.mapPartitions { it =>
      val rows = it.toVector
      val ctx = TaskContext.get
      if (ctx.attemptNumber == 0 && ctx.partitionId == 0 &&
          FaultToleranceSpec.streamFailedOnce.compareAndSet(false, true))
        throw new RuntimeException("injected stateful-stage task failure")
      rows.iterator
    }(Encoders.row(counts.schema))

    val got = StreamingOps.runToMemory(flaky, "ft_stream_tokens")
      .as[(String, Long)].collect().toMap
    assert(FaultToleranceSpec.streamFailedOnce.get, "failure was injected")
    assert(got === UrlCount.tokenCounts(spark.read.text(dir), "value")
      .as[(String, Long)].collect().toMap)
  }

  test("a stream whose read tasks fail throws through every drain sink and leaves no query running") {
    import spark.implicits._
    implicit val signaler: Signaler = ThreadSignaler
    val dir = tempSfDir()
    // ts is BIGINT nanos on disk but declared TIMESTAMP, so every task
    // that reads it fails. Each case reads ts: an aggregate that does not
    // prunes the column and correctly succeeds.
    Seq((1L, 1000000000L, "view", 1.0), (2L, 7200000000000L, "click", 2.0))
      .toDF("event_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val declared = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def stale(s: SparkSession): DataFrame =
      s.readStream.schema(declared).parquet(s"$dir/events.parquet")
    // runToBatch runs the stream in a scoped session with its own
    // query manager; keep each one to check that nothing is left running
    val sessions = mutable.Buffer(spark)
    def viaBatch(mode: OutputMode)(frame: DataFrame => DataFrame): Unit = {
      StreamingOps.runToBatch(spark, dir, s => { sessions += s; frame(stale(s)) }, "stale", mode)
      ()
    }
    val sinks = Seq[(String, () => Unit)](
      "memory, Complete" -> (() => viaBatch(OutputMode.Complete())(
        StreamingOps.windowedEventCounts)),
      "parquet file sink, Append" -> (() => viaBatch(OutputMode.Append())(
        _.select("event_id", "ts"))),
      "Update sink" -> (() => viaBatch(OutputMode.Update())(
        _.groupBy(window(col("ts"), "1 hour")).count())),
      "eachBatch" -> (() => StreamingOps.eachBatch(stale(spark), "stale") { b =>
        b.select("ts").collect(); ()
      }))
    for ((sink, run) <- sinks) {
      val e = failAfter(60.seconds)(intercept[Exception](run()))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => String.valueOf(c.getMessage).contains("FAILED_READ_FILE")),
        s"$sink: ${chain.map(_.getClass.getName)}")
      assert(sessions.forall(_.streams.active.isEmpty), s"$sink left a query running")
    }
  }
}
