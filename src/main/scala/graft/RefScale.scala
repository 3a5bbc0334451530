package graft

import org.apache.spark.sql.functions._

import graft.ops.UrlCount

/** Reference design-point run: the reference's `main.sh` pipeline shape
  * (tokenize -> count -> top-100 -> O7/O8 sinks) at >= 20 GB of text with
  * executor memory CAPPED — the spirit of the reference's own sizing
  * constraint (100 GB input / 1 GB RAM budget, `/root/reference/README.md:12`,
  * BASELINE.md row "design input size"). The reference meets that budget by
  * statically slicing input into 128 MB map tasks; the Spark plan meets it
  * because nothing in tokenCounts/topK ever holds more than a partition +
  * the partial-aggregation hash map per task — input:heap ratio is bounded
  * by split size, not corpus size.
  *
  * Two modes (separate JVMs, so the measured run's master/memory topology
  * is exactly what its record states):
  *
  *   runMain graft.RefScale gen <dir> <gigabytes>
  *     Amplify the reference's shipped 8-file corpus (1.28 MB) by crossJoin
  *     with a range — written by Spark as a many-file text corpus (the
  *     shape of a real crawl at this size; single files would serialize
  *     the scan). Runs on the default GraftSession; generation is not the
  *     measurement.
  *
  *   runMain graft.RefScale run <dir>
  *     The measured pipeline over the generated corpus. Master/memory come
  *     from SPARK_GRAFT_MASTER (default local-cluster[2,8,1024]: two SEPARATE
  *     executor JVMs, 1 GiB heap each — the scan, tokenize, partial and
  *     final aggregation all execute inside that cap; the driver sees only
  *     the 17,401-key count relation and the top-100). Prints ONE JSON
  *     line: corpus bytes, per-phase seconds, GB/s, and the topology.
  *
  * Phases timed separately so the record shows where the bytes are paid:
  *   count    — tokenCounts (O2+O4+O6) + total-order (O5), the full-corpus
  *              scan; count() forces it
  *   topk     — topK (O9) over the same corpus (second full scan — the
  *              reference's main.sh also re-reads its counts file)
  *   sinks    — O7 JSON + O8 sorted-text DISTRIBUTED sinks from the count
  *              relation (range-partitioned, one file per task)
  *   merge    — many-file merge-READ of both sinks + exactness check
  *              against the amplification identity (counts = base x K)
  */
object RefScale {
  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dir :: gb :: Nil => gen(dir, gb.toDouble)
    case "run" :: dir :: Nil => run(dir)
    case _ =>
      System.err.println("usage: RefScale gen <dir> <gigabytes> | RefScale run <dir>")
      sys.exit(2)
  }

  private val refFiles: Seq[String] =
    (0 until 8).map(i => s"/root/reference/src/main/data$i.txt")

  private def gen(dir: String, gigabytes: Double): Unit = {
    val spark = GraftSession.build("graft-refscale-gen")
    val baseBytes = refFiles.map(f => new java.io.File(f).length).sum
    val k = math.ceil(gigabytes * (1L << 30).toDouble / baseBytes).toLong
    // ~128 MB per output file — the reference's own per-map-task input cap
    // (README.md:7,20), so the generated corpus is the many-file layout its
    // design assumes
    val files = math.max(32L, k * baseBytes / (128L << 20)).toInt
    // shuffle-free amplification: one range row per (file, replica),
    // pre-split into `files` partitions, broadcast-joined to the 8 base
    // lines — each task STREAMS its replicas straight into the text
    // writer. (A crossJoin + repartition shape OOMs here: round-robin
    // repartition sorts its input partition first, which materializes
    // hundreds of 160 KB rows per task.)
    import java.nio.file.{Files, Paths}
    val base = refFiles.zipWithIndex.map { case (f, i) =>
      (i.toLong, Files.readString(Paths.get(f)).stripLineEnd)
    }
    val corpus = spark.createDataFrame(base).toDF("fid", "value")
    spark.range(0, 8L * k, 1, files)
      .withColumn("fid", col("id") % 8)
      .join(broadcast(corpus), "fid")
      .select(col("value"))
      .write.mode("overwrite").text(dir)
    val written = Option(new java.io.File(dir).listFiles).map(
      _.filter(f => f.getName.startsWith("part-")).map(_.length).sum).getOrElse(0L)
    println(s"""{"gen_dir":"$dir","amplification":$k,"files":$files,"bytes":$written,"gb":${written / 1e9}}""")
    spark.stop()
  }

  private def run(dir: String): Unit = {
    // the design point's default topology: two 1 GiB executor JVMs
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,8,1024]")
    val spark = GraftSession.build("graft-refscale", master)
    val bytes = Option(new java.io.File(dir).listFiles).map(
      _.filter(f => f.getName.startsWith("part-")).map(_.length).sum).getOrElse(0L)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val corpus = spark.read.text(dir).withColumnRenamed("value", "text")

    val counts = UrlCount.tokenCounts(corpus, "text")
    val ((nKeys, mass), tCount) = timed {
      val r = counts.agg(count(lit(1)), sum(col("cnt"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (top, tTopK) = timed(UrlCount.topK(corpus, "text", 100).collect())

    val jsonDir = s"$dir-sink-json"
    val textDir = s"$dir-sink-text"
    val countsWide = counts.repartitionByRange(32, col("token"))
    val (_, tSinks) = timed {
      UrlCount.writeJsonSink(countsWide, jsonDir)
      UrlCount.writeTextSink(countsWide.sortWithinPartitions("token")
        .select(concat_ws(": ", col("token"), col("cnt").cast("string")).as("line")),
        textDir)
    }

    // merge-read parity: the many-file sinks reassemble to the base corpus
    // counts x amplification (the generation identity), so the record
    // carries its own exactness check, not just wall times
    val baseCounts = UrlCount.tokenCounts(
      spark.read.text(refFiles: _*).withColumnRenamed("value", "text"), "text")
    // amplification derived from the MEASURED base mass, not the README
    // constant (ADVICE r14): a non-multiple mass is a corpus-generation
    // bug and should fail loudly here, not as an opaque merge_ok=false
    val baseMass = baseCounts.agg(sum(col("cnt"))).collect()(0).getLong(0)
    require(baseMass > 0,
      "base corpus token mass is 0 — reference data files missing/empty " +
        "(a bare / by zero here would hide the real failure; ADVICE r15)")
    require(mass % baseMass == 0,
      s"token mass $mass is not a multiple of base corpus mass $baseMass — " +
        "generated corpus is not a whole-number amplification of the base files")
    val ampl = mass / baseMass
    val (mergeOk, tMerge) = timed {
      val back = spark.read.json(jsonDir)
      val mismatch = back.join(baseCounts.withColumnRenamed("cnt", "base_cnt"), "token")
        .filter(col("cnt") =!= col("base_cnt") * ampl).count()
      val textMass = spark.read.text(textDir)
        .select(sum(split(col("value"), ": ").getItem(1).cast("long"))).collect()(0).getLong(0)
      mismatch == 0 && back.count() == nKeys && textMass == mass
    }
    val gbps = bytes / 1e9 / tCount
    println(s"""{"dir":"$dir","bytes":$bytes,"gb":${bytes / 1e9},"master":"$master","n_keys":$nKeys,"token_mass":$mass,"top1_cnt":${top.head.getLong(1)},"count_sec":$tCount,"count_gbps":$gbps,"topk_sec":$tTopK,"sinks_sec":$tSinks,"merge_check_sec":$tMerge,"merge_ok":$mergeOk}""")
    spark.stop()
    if (!mergeOk) sys.exit(1)
  }
}
