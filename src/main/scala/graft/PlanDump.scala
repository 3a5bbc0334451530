package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Profiling/diagnostic main (never a bench record): for each named
  * query, captures
  *   - the formatted physical plan (`explain("formatted")`) to
  *     `<outDir>/<name>.txt` — the optimization round's plan evidence
  *     (the before/after files under plans/r17/);
  *   - a per-query job/stage/task census via a SparkListener: how many
  *     actions (jobs) the query runs, per-job wall time, task counts and
  *     shuffle bytes — the number that tells scheduling overhead apart
  *     from plan cost at harness scale (guide §1: measure first).
  *
  * Streaming twins execute during build (their fn drives the stream to
  * completion and returns the sink read-back), so for `stream_*` names
  * the captured plan is the sink read — the job census is still the
  * honest execution profile. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.PlanDump <outDir> [names]"
  * with names comma-separated (default: all registered queries).
  */
object PlanDump {

  private class JobCensus extends SparkListener {
    case class Job(id: Int, var desc: String, var start: Long,
                   var end: Long, var stages: Int, var tasks: Int,
                   var shuffleReadB: Long, var shuffleWriteB: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(e.jobId,
        Option(e.properties).map(_.getProperty("spark.job.description", ""))
          .getOrElse(""),
        e.time, 0L, e.stageIds.size, 0, 0L, 0L)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    case class Stage(id: Int, name: String, ms: Long, tasks: Int,
                     execRunMs: Long, execCpuMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageToJob.get(si.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          j.tasks += si.numTasks
          j.shuffleReadB += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteB += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      val ms = (for (a <- si.submissionTime; b <- si.completionTime)
        yield b - a).getOrElse(0L)
      stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n').take(90), ms,
        si.numTasks, si.taskMetrics.executorRunTime,
        si.taskMetrics.executorCpuTime / 1000000L))
    }
    def reset(): Unit = { jobs.clear(); stageToJob.clear(); stages.clear() }
    def stageLines(minMs: Long): Seq[String] = {
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.filter(_.ms >= minMs).sortBy(-_.ms).take(20).map { s =>
        s"""    stage ${s.id} ${s.ms}ms tasks=${s.tasks} run=${s.execRunMs}ms cpu=${s.execCpuMs}ms  ${s.name}"""
      }
    }
    def summary: (Int, Long, Int, Long, Long, String) = {
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      val wall = js.map(j => math.max(0L, j.end - j.start)).sum
      val detail = js.map { j =>
        s"""{"job":${j.id},"ms":${math.max(0L, j.end - j.start)},"stages":${j.stages},"tasks":${j.tasks},"shufR":${j.shuffleReadB},"shufW":${j.shuffleWriteB}}"""
      }.mkString("[", ",", "]")
      (js.size, wall, js.map(_.tasks).sum,
        js.map(_.shuffleReadB).sum, js.map(_.shuffleWriteB).sum, detail)
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "plans/r17"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names =
      if (args.length > 1) SparkEntry.selectQueries(args(1))
      else SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.build("graft-plandump", corpusDir = Some(sfDir))
    val census = new JobCensus
    spark.sparkContext.addSparkListener(census)

    // warmup pass at tiny scale so job census is not JIT noise
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case e: Throwable => System.err.println(s"warmup $n: ${e.getMessage}") }
    }
    names.foreach { n =>
      census.reset()
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        df.count()
        val tRun = (System.nanoTime() - t1) / 1e9
        Files.writeString(Paths.get(s"$outDir/$n.txt"), plan)
        // settle async job-end events before reading the census
        Thread.sleep(50)
        val (nJobs, jobMs, nTasks, shufR, shufW, detail) = census.summary
        println(f"""{"query":"$n","build_sec":$tBuild%.3f,"run_sec":$tRun%.3f,"n_jobs":$nJobs,"job_ms":$jobMs,"n_tasks":$nTasks,"shuf_read":$shufR,"shuf_write":$shufW,"jobs":$detail}""")
        if (sys.env.contains("SPARK_GRAFT_PLANDUMP_STAGES"))
          census.stageLines(
            sys.env("SPARK_GRAFT_PLANDUMP_STAGES").toLong).foreach(println)
      } catch {
        case e: Throwable =>
          println(s"""{"query":"$n","error":"${Option(e.getMessage).getOrElse(e.getClass.getName).take(160).replace('"', '\'')}"}""")
      }
    }
    spark.stop()
  }
}
