package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingOps

/** The bench's census on the shared session: each rep's row holds its
  * own jobs, streams and store use, and its time splits into in-job and
  * outside-job time with nothing lost.
  */
class CensusSpec extends SparkSpec {

  private def withCensus[A](f: Census => A): A = {
    val census = new Census
    spark.sparkContext.addSparkListener(census)
    try { census.take(spark.sparkContext); f(census) }
    finally spark.sparkContext.removeSparkListener(census)
  }

  private def num(row: Map[String, Any], key: String): Double = row(key) match {
    case n: Int => n.toDouble
    case n: Long => n.toDouble
    case d: Double => d
    case other => fail(s"$key is not a number: $other")
  }

  private def jobs(row: Map[String, Any]): Seq[Map[String, Any]] =
    row("jobs").asInstanceOf[Seq[Map[String, Any]]]

  test("two batch queries back to back: disjoint jobs, tasks >= stages >= 1, none left open") {
    // a listener ahead of the census that is slow on every job end: a row
    // taken without draining the bus would miss its last job's end
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    val rows = try withCensus { census =>
      Seq(
        census.run(spark.sparkContext, "grouped", 0)(
          spark.range(0, 2000, 1, 4).groupBy(col("id") % 7).count()),
        census.run(spark.sparkContext, "summed", 0)(
          spark.range(0, 500, 1, 2).selectExpr("sum(id)")))
    }.map { m => assert(m.result.isRight); m.row }
    finally spark.sparkContext.removeSparkListener(slow)
    val ids = rows.map(r => jobs(r).map(_("id")).toSet)
    assert(ids.forall(_.nonEmpty))
    assert((ids(0) intersect ids(1)).isEmpty, s"a job in both rows: $ids")
    for (r <- rows) {
      assert(num(r, "sched.tasks") >= num(r, "sched.stages"))
      assert(num(r, "sched.stages") >= 1)
      assert(num(r, "sched.open_jobs") === 0)
      assert(num(r, "sched.jobs") === jobs(r).size)
    }
  }

  test("outside-job time plus in-job time is the wall time, to the millisecond") {
    val row = withCensus { census =>
      census.run(spark.sparkContext, "sequential", 0)(
        spark.range(0, 2000, 1, 4).groupBy(col("id") % 5).count())
    }.row
    // one chain of stages: the jobs run one after another, so their
    // summed milliseconds are the union the row subtracts
    val inJobS = jobs(row).map(j => num(j, "ms")).sum / 1e3
    assert(inJobS > 0)
    assert(math.abs(num(row, "sched.job_s") - inJobS) < 1e-9)
    assert(math.abs(num(row, "sched.outside_jobs_s") + inJobS - num(row, "wall_s")) <= 0.001)
    assert(num(row, "sched.outside_jobs_s") >= 0)
  }

  test("a two-file stream through runToBatch: its batches and trigger phases land in the row") {
    val dir = SparkSpec.tempDir("census-stream")
    Files.writeString(Paths.get(dir, "a.txt"), "x y z\nx y\n")
    Files.writeString(Paths.get(dir, "b.txt"), "y z\nz\n")
    val m = withCensus { census =>
      census.run(spark.sparkContext, "stream", 0)(StreamingOps.runToBatch(spark, dir,
        s => StreamingOps.tokenCountStream(s, dir), "census", OutputMode.Complete()))
    }
    assert(m.result.isRight)
    val row = m.row
    assert(num(row, "stream.queries") >= 1)
    assert(num(row, "stream.batches") >= 1)
    val phases = row("stream.batch_phases_s").asInstanceOf[Seq[Map[String, Any]]]
    assert(phases.size === num(row, "stream.batches"))
    assert(phases.forall(_.contains("triggerExecution")))
    assert(num(row, "stream.trigger_s") > 0)
    assert(num(row, "stream.residual_s") >= 0)
  }

  test("a store lookup done twice records one build, then one hit") {
    val store = new ArtifactStore[Int]("census-spec")(_ => ())
    try {
      val rows = withCensus { census =>
        (0 to 1).map { rep =>
          census.run(spark.sparkContext, "lookup", rep) {
            store.getOrBuild("slot", "fingerprint")(rep)
            spark.range(1).toDF()
          }.row
        }
      }
      assert(rows.map(r => (num(r, "store.builds"), num(r, "store.hits"))) ===
        Seq((1.0, 0.0), (0.0, 1.0)))
    } finally store.clear()
  }
}
