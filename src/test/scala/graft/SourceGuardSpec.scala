package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the single homes of five mechanisms:
  * `StreamingOps.drain` is the only main code that starts and waits on
  * a stream, `SparkSpec.tempDir` is the only way a spec makes a temp dir
  * (so every one lands under the root deleted at shutdown), the
  * bench's `Census` is the only listener, drained through one bridge,
  * `StreamingOps` alone sets a stream's state-store provider, per
  * stream, with no override knob, and `Fixpoint` alone caches, releases
  * and gives up on an iterative loop's rounds.
  */
class SourceGuardSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[File] = {
    val root = new File(dir)
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root)
  }

  private def indicesOf(text: String, mark: String): Seq[Int] =
    Iterator.iterate(text.indexOf(mark))(i => text.indexOf(mark, i + 1))
      .takeWhile(_ >= 0).toSeq

  test("under src/main/scala only StreamingOps.drain sets a checkpoint or an " +
      "AvailableNow trigger, or waits on a query") {
    val marks = Seq("Trigger.AvailableNow", ".awaitTermination", "\"checkpointLocation\"")
    val hits = for {
      f <- sources("src/main/scala")
      text = Files.readString(f.toPath)
      m <- marks
      i <- indicesOf(text, m)
    } yield (f.getName, text, m, i)
    assert(hits.map(_._3).distinct.sorted === marks.sorted, "drain sets all three")
    for ((name, text, m, i) <- hits) {
      val start = text.indexOf("def drain(")
      val inDrain = name == "StreamingOps.scala" && start >= 0 &&
        start < i && i < text.indexOf("\n\n", start)
      assert(inDrain, s"$m in $name outside StreamingOps.drain")
    }
  }

  test("no spec but SparkSpec creates a temp dir") {
    val needle = "createTemp" + "Directory"
    val makers = sources("src/test/scala")
      .filter(f => Files.readString(f.toPath).contains(needle))
      .map(_.getName)
    assert(makers === Seq("SparkSpec.scala"))
  }

  test("under src/main/scala only the census, Bench and the bus bridge touch listeners") {
    val home = Set("Census.scala", "Bench.scala", "CensusBus.scala")
    val marks = Seq("addSparkListener", "extends SparkListener", "listenerBus")
    val strays = for {
      f <- sources("src/main/scala")
      text = Files.readString(f.toPath)
      m <- marks if text.contains(m) && !home(f.getName)
    } yield s"$m in ${f.getName}"
    assert(strays.isEmpty)
    val all = sources("src/main/scala").map(f => Files.readString(f.toPath)).mkString
    assert(marks.forall(all.contains), "the census still uses all three")
  }

  test("no Thread.sleep under src/main/scala") {
    val sleepers = sources("src/main/scala")
      .filter(f => Files.readString(f.toPath).contains("Thread.sleep"))
      .map(_.getName)
    assert(sleepers.isEmpty)
  }

  test("the diagnostic mains and their knobs are gone from src") {
    val gone = Seq("SPARK_GRAFT_PLANDUMP_STAGES", "SPARK_GRAFT_PROFILE_REPS",
      "SPARK_GRAFT_BENCH_TRACE", "PlanDump", "StreamProfile")
    val found = for {
      f <- sources("src") // this file names them, so it is skipped
      text = Files.readString(f.toPath)
      g <- gone if text.contains(g) && f.getName != "SourceGuardSpec.scala"
    } yield s"$g in ${f.getName}"
    assert(found.isEmpty)
  }

  test("the stream-state overrides and the build-time corpus argument are gone from src/main") {
    val gone = Seq("SPARK_GRAFT_STATESTORE", "SPARK_GRAFT_STREAM_STATE_PARTITIONS",
      "spark.graft.streamStatePartitions", "spark.graft.scratchDir", "corpusDir")
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    val found = for {
      f <- files(root)
      text = Files.readString(f.toPath)
      g <- gone if text.contains(g)
    } yield s"$g in ${f.getName}"
    assert(found.isEmpty)
  }

  test("under src/main/scala only StreamingOps names the state-store provider key") {
    val namers = sources("src/main/scala")
      .filter(f => Files.readString(f.toPath).contains("stateStore.providerClass"))
      .map(_.getName)
    assert(namers === Seq("StreamingOps.scala"))
  }

  test("the operators neither persist nor unpersist, and only Fixpoint gives up on a loop") {
    val cachers = for {
      f <- sources("src/main/scala/graft/ops")
      text = Files.readString(f.toPath)
      m <- Seq(".persist(", ".unpersist(") if text.contains(m)
    } yield s"$m in ${f.getName}"
    assert(cachers.isEmpty)
    val throwers = sources("src/main/scala")
      .filter(f => Files.readString(f.toPath).contains("did not converge"))
      .map(_.getName)
    assert(throwers === Seq("Fixpoint.scala"))
  }
}
