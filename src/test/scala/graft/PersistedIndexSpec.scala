package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Pins the two persisted-index shapes (VERDICT r6 items #1 and #2):
  *
  *  - incremental minhash dedup: the band-signature index written
  *    bucketed by the band key is probed WITHOUT an Exchange on the
  *    index side — new-batch cost scales with the batch, never the
  *    corpus;
  *  - IVF ANN over a stored posting-list table bucketed by cell: the
  *    query-time probe reads the stored assignment (no re-assignment
  *    scan) and the index side of the probe join is exchange-free,
  *    and the answers are IDENTICAL to the recompute-per-query form.
  */
class PersistedIndexSpec extends SparkSpec {

  private def withSmjPinned[A](body: => A): A = {
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally prev match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None    => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  // count exchanges in the FINAL adaptive plan only (the AQE string
  // repeats the tree under "== Initial Plan ==")
  private def exchanges(plan: String): Int =
    "Exchange".r.findAllIn(plan.split("== Initial Plan ==")(0)).size

  test("incremental dedup pairs new-batch docs with their indexed near-dups") {
    import spark.implicits._
    val sfDir = tempSfDir()
    // ids % 10 != 0 -> existing corpus (indexed); % 10 == 0 -> new batch
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "unrelated content about something else entirely"),
      // new batch: 10 is an exact copy of 1 (est 1.0), 20 shares most
      // shingles with 2 (near-dup), 30 matches nothing
      (10L, "alpha beta gamma delta epsilon zeta"),
      (20L, "one two three four five six eight"),
      (30L, "completely novel text with fresh words only")
    ).toDF("doc_id", "text")
    writeTable(sfDir, "documents", docs)
    val got = Dedup.incrementalMinHash(spark, sfDir)
      .select(col("doc_new"), col("doc_idx"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((10L, 1L)), s"exact cross-batch copy missed: $got")
    assert(!got.exists(_._1 == 30L), s"unrelated new doc matched: $got")
    assert(!got.exists(p => p._1 == 10L && p._2 == 3L), s"false pair: $got")
    // exact copy must score est = 1.0
    val est = Dedup.incrementalMinHash(spark, sfDir)
      .filter(col("doc_new") === 10L && col("doc_idx") === 1L)
      .select("est_jaccard").as[Double].head()
    assert(est === 1.0)
  }

  test("a minhash index rebuilt by the streaming twin is not read stale by the batch probe") {
    import spark.implicits._
    val sfDir = tempSfDir()
    writeTable(sfDir, "documents", Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (10L, "alpha beta gamma delta epsilon zeta"),
      (20L, "one two three four five six eight")
    ).toDF("doc_id", "text"))
    def pairs(q: String): Set[(Long, Long)] =
      SparkEntry.queries(q)(spark, sfDir).select("doc_new", "doc_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = pairs("dedup_incremental")
    val stream = pairs("stream_dedup_incremental")
    assert(batch.contains((10L, 1L)) && stream.contains((10L, 1L)))
    // the streaming twin now rebuilds the table (DROP + overwrite) from
    // its own cloned session; the batch probe must read the new files,
    // whatever its session resolved before
    ArtifactStore.clearAll()
    assert(pairs("stream_dedup_incremental") === stream)
    assert(pairs("dedup_incremental") === batch)
    ArtifactStore.clearAll()
    assert(pairs("dedup_incremental") === batch)
    assert(pairs("stream_dedup_incremental") === stream)
  }

  test("minhash index probe join plans with no Exchange on the index side") {
    import spark.implicits._
    val sfDir = tempSfDir()
    val docs = (1L to 40L)
      .map(i => (i, s"token$i shared words number ${i % 5} tail"))
      .toDF("doc_id", "text")
    writeTable(sfDir, "documents", docs)
    Dedup.buildMinHashIndex(spark, docs.filter(col("doc_id") % 10 =!= 0),
      "graft_minhash_index_spec",
      s"${System.getProperty("java.io.tmpdir")}/graft-minhash-index-spec")
    withSmjPinned {
      // a minimal probe isolates the join: the ONLY exchange allowed is
      // the probe side's — the index scan must come back bucketed
      val probe = Seq(("0|1,2,3,4", 10L)).toDF("sig", "doc_new")
      val j = probe.join(spark.table("graft_minhash_index_spec"), Seq("sig"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"index scan should read buckets:\n$plan")
      assert(exchanges(plan) === 1,
        s"only the probe side may shuffle (found ${exchanges(plan)}):\n$plan")
    }
    spark.sql("DROP TABLE IF EXISTS graft_minhash_index_spec")
  }

  test("index fold-in: appended batch keys audit against a full rebuild") {
    import spark.implicits._
    val sfDir = tempSfDir()
    val X = "alpha beta gamma delta"
    val Y = "one two three four"
    val Z = "totally different content here"
    writeTable(sfDir, "documents", Seq(
      (1L, X), (2L, Y), (3L, Y), // existing (% 10 != 0); 3 collapses into 2
      (10L, X), (30L, Z)         // batch; 10 duplicates existing content X
    ).toDF("doc_id", "text"))
    val audit = Dedup.indexRefreshAudit(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // per band (defaultLshBands of them): folded = reps {1,2} + {10,30}
    // = 4 rows; rebuild = global reps {1,2,30} = 3; redundant = the one
    // cross-split dup (X)
    assert(audit === (0L until Dedup.defaultLshBands.toLong)
      .map(b => (b, 4L, 3L, 1L)))
    // the folded index is still a bucketed table: probe join plans with
    // only the probe-side exchange even over the appended files
    withSmjPinned {
      val probe = Seq(("0|1,2,3,4", 99L)).toDF("sig", "x")
      val j = probe.join(spark.table(
        graft.sources.Bucketed.scopedName(spark, "graft_minhash_index_refresh")), Seq("sig"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"append broke bucketed read:\n$plan")
      assert(exchanges(plan) === 1, s"\n$plan")
    }
  }

  test("index compaction: global-rep semi-join reclaims exactly the cross-split dups") {
    import spark.implicits._
    val sfDir = tempSfDir()
    val X = "alpha beta gamma delta"
    val Y = "one two three four"
    val Z = "totally different content here"
    writeTable(sfDir, "documents", Seq(
      (1L, X), (2L, Y), (10L, X), (30L, Z) // X spans the split
    ).toDF("doc_id", "text"))
    val audit = Dedup.indexCompactAudit(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // folded keeps both reps of X (1 and 10); compaction keeps only the
    // global rep (1): 4 -> 3 rows per band
    assert(audit === (0L until Dedup.defaultLshBands.toLong)
      .map(b => (b, 4L, 3L)))
    // the compacted table answers probes identically to a fresh build:
    // probe content X and find rep 1, not the reclaimed copy 10
    val probe = Dedup.probeMinHashIndex(
      spark.table(
        graft.sources.Bucketed.scopedName(spark, "graft_minhash_index_compacted")),
      Seq((100L, X)).toDF("doc_id", "text"))
    val pairs = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((100L, 1L)))
  }

  test("ivfIndexed answers match the recompute-per-query ivfAnn exactly") {
    val sfDir = "/root/testdata/sf0.001"
    val fresh = Similarity.ivfAnn(spark, sfDir).collect().toSeq
    val stored = Similarity.ivfIndexed(spark, sfDir).collect().toSeq
    assert(stored === fresh)
    assert(stored.nonEmpty)
  }

  test("ivfIndexedGrow: build-then-append answers match the full rebuild exactly") {
    val sfDir = "/root/testdata/sf0.001"
    val rebuilt = Similarity.ivfAnn(spark, sfDir).collect().toSeq
    val grown = Similarity.ivfIndexedGrow(spark, sfDir).collect().toSeq
    assert(grown === rebuilt)
    assert(grown.nonEmpty)
  }

  test("ivfPqAnn: probed-cell candidates carry exactly pqAnn's ADC scores") {
    val sfDir = "/root/testdata/sf0.001"
    // pqAnn ADC-scans the WHOLE corpus; the composed rung scores only
    // probed cells — so every (q, n) the composition returns must carry
    // the identical exact-integer ADC score pqAnn computed for that pair
    val full = Similarity.pqAnn(spark, sfDir, k = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val composed = Similarity.ivfPqAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(composed.nonEmpty)
    composed.foreach { case (q, n, adc) =>
      assert(full((q, n)) === adc, s"ADC mismatch for ($q, $n)")
    }
    // the stored posting lists are bucketed on the probe key: the cell
    // join's index side plans with no Exchange
    import spark.implicits._
    val idxName = graft.sources.Bucketed.scopedName(spark, "graft_ivf_pq_index")
    withSmjPinned {
      val probe = Seq((0L, 1L)).toDF("cell", "q_id")
      val j = probe.join(spark.table(idxName), Seq("cell"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"\n$plan")
      assert(exchanges(plan) === 1, s"\n$plan")
    }
  }

  test("ivf posting-list probe join plans with no Exchange on the index side") {
    import spark.implicits._
    // build our own index (no reliance on suite-internal test order)
    Similarity.ivfIndexed(spark, "/root/testdata/sf0.001").collect()
    val idxName = graft.sources.Bucketed.scopedName(spark, "graft_ivf_index")
    assert(spark.catalog.tableExists(idxName))
    withSmjPinned {
      val probe = Seq((0L, 1L)).toDF("cell", "q_id")
      val j = probe.join(spark.table(idxName), Seq("cell"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"index scan should read buckets:\n$plan")
      assert(exchanges(plan) === 1,
        s"only the probe side may shuffle (found ${exchanges(plan)}):\n$plan")
    }
  }
}
