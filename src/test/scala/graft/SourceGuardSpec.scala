package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the single homes of two mechanisms:
  * `StreamingOps.drain` is the only main code that starts and waits on
  * a stream, and `SparkSpec.tempDir` is the only way a spec makes a
  * temp dir (so every one lands under the root deleted at shutdown).
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
}
