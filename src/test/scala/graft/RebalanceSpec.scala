package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Rebalance.{HashDense, WindowDense}
import graft.streaming.StreamingOps

/** Pins the width policy (graft.Rebalance) and the Materialize.isFlat
  * gate the graph layouts use:
  *  - spread's explicit width survives AQE partition coalescing (the
  *    whole point — the implicit keyed form is coalesced back to one
  *    partition at small mass, serializing CPU-dense hash stages);
  *  - the width function and the stats reading, as a table;
  *  - spreadIfNarrow's stats gate widens a small scan and leaves a
  *    frame alone when the input mass covers the session width;
  *  - the stream widen takes its gate and cap from the probe's session;
  *  - no other main source reads a session width;
  *  - isFlat recognizes a localCheckpoint'd frame (and trivial
  *    projections over it) but never an aggregate, so layout builders
  *    skip only genuinely redundant re-checkpoints and release() keeps
  *    operating on owned copies only.
  */
class RebalanceSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.build("rebalance-spec", "local[4]", 8)

  /** Stats far above width x target, so every width saturates its cap. */
  private def hugeProbe: DataFrame = spark.range(1L << 40).toDF()

  private def plannedWidth(df: DataFrame): Option[Int] =
    df.queryExecution.logical.collectFirst {
      case r: RepartitionByExpression => r.numPartitions
    }

  test("spread pins an explicit width where the implicit keyed form is AQE-coalesced") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("doc_id")
    val implicitParts =
      df.repartition(col("doc_id")).localCheckpoint().rdd.getNumPartitions
    // a probe whose mass saturates the cap tests the AQE exemption at
    // the session width (a tiny in-memory frame would otherwise
    // legitimately spread narrow under the mass rule)
    val explicitParts = Rebalance.spread(df, hugeProbe, HashDense, col("doc_id"))
      .localCheckpoint().rdd.getNumPartitions
    assert(explicitParts == Rebalance.sessionWidth(spark),
      s"explicit width must be exempt from AQE coalescing (got $explicitParts)")
    assert(implicitParts < explicitParts,
      "precondition lost: the implicit keyed repartition is no longer " +
        "coalesced at tiny mass — the seam may be unnecessary now")
  }

  test("spread width is mass-proportional: tiny mass spreads narrow, big mass caps at session width") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("doc_id")
    // ~8 KB of longs against the 16 KB/task HashDense target: width
    // must be capped well below the session's 8, but never zero
    val narrow = Rebalance.spread(df, df, HashDense, col("doc_id"))
      .localCheckpoint().rdd.getNumPartitions
    assert(narrow >= 1 && narrow < Rebalance.sessionWidth(spark),
      s"a KB-scale frame must not spread to the full session width (got $narrow)")
    // a probe whose stats exceed width x target saturates the cap
    assert(Rebalance.spread(df, hugeProbe, HashDense, col("doc_id"))
      .localCheckpoint().rdd.getNumPartitions == Rebalance.sessionWidth(spark))
  }

  test("width table: bytes form with the stats sentinel, edge form at its bounds") {
    val kb = 1L << 10
    val bytes = Seq[(BigInt, Rebalance.Density, Int)](
      (BigInt(-1), HashDense, 8), // no mass: the cap
      (BigInt(0), HashDense, 8),
      (BigInt(1), HashDense, 1),
      (BigInt(16 * kb), HashDense, 1),
      (BigInt(16 * kb + 1), HashDense, 2),
      (BigInt(16 * kb + 1), WindowDense, 1),
      (BigInt(64 * kb + 1), WindowDense, 2),
      (BigInt(8 * 16 * kb), HashDense, 8),
      (BigInt(1L << 40), HashDense, 8),
      (BigInt(Long.MaxValue), HashDense, 8)) // Catalyst's size sentinel
    bytes.foreach { case (b, d, want) =>
      assert(Rebalance.bytesWidth(b, d, 8) === want, s"bytes $b at $d")
    }
    // the sentinel as read from a real plan: an RDD leaf has no stats
    val rddLeaf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(1L, 2L)).map(Tuple1(_))).toDF("doc_id")
    assert(Rebalance.spread(rddLeaf, rddLeaf, HashDense, col("doc_id"))
      .localCheckpoint().rdd.getNumPartitions === Rebalance.sessionWidth(spark))
    val cap = Rebalance.sessionWidth(spark)
    val edges = Seq(0L -> 1, 100000L -> 1, 100001L -> 2,
      cap * 100000L -> cap, cap * 100000L + 1 -> cap, (1L << 40) -> cap)
    edges.foreach { case (n, want) =>
      assert(Rebalance.edgeWidth(spark, n) === want, s"$n edges")
    }
  }

  test("spreadIfNarrow widens a tiny scan and gates off when stats cover the width") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("rebalance-spec")
    (1L to 100L).toDF("doc_id").coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val widened = Rebalance.spreadIfNarrow(scan, scan, WindowDense, col("doc_id"))
    assert(widened.queryExecution.analyzed ne scan.queryExecution.analyzed,
      "a KB-scale scan must be widened")
    // width is mass-proportional: pinned (AQE-exempt) but bounded by
    // bytes/target, so a KB-scale scan stays narrow; a probe above
    // width x target but under the narrow gate saturates the cap
    assert(Rebalance.spreadIfNarrow(scan, spark.range(1L << 20).toDF(),
      WindowDense, col("doc_id")).localCheckpoint().rdd.getNumPartitions ==
      Rebalance.sessionWidth(spark))
    // same scan under a floor-level split size: stats now cover the
    // session width, so the gate must add nothing
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
      val wide = spark.read.parquet(dir)
      assert(Rebalance.spreadIfNarrow(wide, wide, WindowDense, col("doc_id")) eq wide,
        "a scan whose mass covers width x maxPartitionBytes must pass through")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    GraftSession.deleteRecursively(new File(dir))
  }

  test("stream widen: spread at the probe session's width, pass-through when the probe is wide") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("rebalance-stream")
    // one file of near-incompressible text, a few 16 KB tasks of mass
    (1L to 2000L).map(i => (i, java.util.UUID.nameUUIDFromBytes(
        BigInt(i).toByteArray).toString, "en", "s", 36L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // runToBatch's shape: the stream lives in a scoped session whose
    // shuffle width is the (smaller) state-partition count
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "2")
    val probe = GraftSession.table(spark, dir, "documents")
    val want = Rebalance.bytesWidth(probe.queryExecution.optimizedPlan.stats.sizeInBytes,
      HashDense, Rebalance.sessionWidth(spark))
    assert(want > 2, s"precondition: probe mass must exceed the scoped width (got $want)")
    val wide = StreamingOps.harnessDocStreamWide(spark, scoped, dir)
    assert(wide.isStreaming)
    assert(plannedWidth(wide) === Some(want),
      "a 1-file stream must be spread at the probe session's width")
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
      val stream = StreamingOps.harnessDocStream(scoped, dir)
      assert(Rebalance.spreadIfNarrow(stream, GraftSession.table(spark, dir, "documents"),
        HashDense, col("doc_id")) eq stream,
        "a stream whose probe covers width x maxPartitionBytes must pass through")
      assert(plannedWidth(StreamingOps.harnessDocStreamWide(spark, scoped, dir)).isEmpty)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    GraftSession.deleteRecursively(new File(dir))
  }

  test("Rebalance.scala is the only main source that reads a session width") {
    val root = new File("src")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    def sources(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val widthReads = ("defaultParallelism|filesMaxPartitionBytes|numShufflePartitions|" +
      """conf\s*\.get\(\s*"spark\.sql\.shuffle\.partitions"""").r
    val readers = sources(new File(root, "main/scala"))
      .filter(f => widthReads.findFirstIn(Files.readString(f.toPath)).isDefined)
      .map(_.getName)
    assert(readers === Seq("Rebalance.scala"))
    // the two width knobs are gone: split so this file does not match
    val removed = Seq("spread" + "TargetBytes", "serveRebalance" + "MinBytes")
    val keyed = sources(root).filter { f =>
      val text = Files.readString(f.toPath)
      removed.exists(text.contains)
    }.map(_.getPath)
    assert(keyed.isEmpty, s"removed width keys still referenced in $keyed")
  }

  test("isFlat: checkpointed leaf and trivial projections yes; aggregates no") {
    import spark.implicits._
    val flat = (1L to 10L).toDF("doc_id").localCheckpoint()
    assert(Materialize.isFlat(flat))
    assert(Materialize.isFlat(flat.select(col("doc_id").as("renamed"))))
    assert(Materialize.isFlat(flat.as("aliased")))
    assert(!Materialize.isFlat(flat.groupBy("doc_id").count()))
    assert(!Materialize.isFlat((1L to 10L).toDF("doc_id")
      .join(flat, Seq("doc_id"))))
    // a non-deterministic projection must not count as flat (a caller
    // skipping materialization there would recompute different values)
    assert(!Materialize.isFlat(flat.select(col("doc_id"), rand().as("r"))))
  }
}
