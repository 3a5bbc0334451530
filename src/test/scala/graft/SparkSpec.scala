package graft

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one local SparkSession for the whole JVM (suites
  * share it via getOrCreate), plus temp-dir fixtures shaped like the
  * harness sfDir (a `<name>.parquet` per table), so ops that read
  * `GraftSession.table` run unchanged against synthetic inputs.
  */
abstract class SparkSpec extends AnyFunSuite {

  // local[4] WITHOUT task retry: a genuinely flaky task in any ordinary
  // suite must fail the test, not be silently re-run and masked. The
  // fault-tolerance suite overrides this with a dedicated local[4, 2]
  // session (maxFailures=2) for the injected-failure path only.
  lazy val spark: SparkSession =
    GraftSession.build("graft-test", "local[4]", shufflePartitions = 4)

  /** A fresh sfDir-shaped temp dir; write tables into it with writeTable.
    * It lives under one per-JVM root that is deleted at shutdown.
    */
  def tempSfDir(): String = SparkSpec.tempDir("sf")

  def writeTable(sfDir: String, name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$sfDir/$name.parquet")

  /** A stream source dir holding each frame as one parquet file, in
    * modification-time order, so a `maxFilesPerTrigger = 1` file stream
    * reads frame i as micro-batch i.
    */
  def batchFilesDir(frames: Seq[DataFrame]): String = {
    val srcDir = SparkSpec.tempDir("batches")
    frames.zipWithIndex.foreach { case (df, i) =>
      val tmp = SparkSpec.tempDir("part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles.filter(_.getName.endsWith(".parquet")).head
      val dest = new File(srcDir, f"f$i%02d.parquet")
      Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(1700000000000L + i * 10000L))
    }
    srcDir
  }
}

object SparkSpec {
  lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-test-sf")
    GraftSession.cleanupAtShutdown(root.toString)
    root
  }

  /** A fresh temp dir under the per-JVM root, deleted at shutdown. */
  def tempDir(prefix: String): String =
    Files.createTempDirectory(tempRoot, prefix).toString
}
