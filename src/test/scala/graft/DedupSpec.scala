package graft

import graft.ops.Dedup

/** Dedup ladder over a constructed corpus with known duplicate structure:
  * docs 1/2 are byte-identical after normalization, doc 3 is a near-dup
  * of 1 (one word changed), doc 4 shares nothing.
  */
class DedupSpec extends SparkSpec {

  private lazy val sfDir: String = {
    import spark.implicits._
    val dir = tempSfDir()
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = (1 to 30).map(i => if (i == 15) "CHANGED" else s"w$i").mkString(" ")
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    writeTable(dir, "documents", Seq(
      (1L, base, "en", "s", base.length.toLong),
      (2L, "  " + base.toUpperCase + "  ", "en", "s", base.length.toLong + 4), // normalizes to base
      (3L, near, "en", "s", near.length.toLong),
      (4L, other, "en", "s", other.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    dir
  }

  test("exact dedup: normalized duplicates collapse, min doc_id kept") {
    val rows = Dedup.exact(spark, sfDir).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap // keep_doc_id -> n_copies
    assert(rows === Map(1L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("normalization ladder: per-rung collapse counts and marginal gains") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "Hello  World", "en", "s", 12L),
      (2L, "hello world", "en", "s", 11L),
      (3L, "hello   world", "en", "s", 13L),
      (4L, "hello, world!", "en", "s", 13L),
      (5L, "hello world", "en", "s", 11L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Dedup.normalizationAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(rows === Seq(
      (0L, 5L, 4L, 1L, 1L),  // raw: only the byte-identical pair {2,5}
      (1L, 5L, 4L, 1L, 0L),  // lowercase alone buys nothing here
      (2L, 5L, 2L, 3L, 2L),  // ws collapse merges {1,2,3,5}
      (3L, 5L, 1L, 4L, 1L))) // punct strip folds in doc 4
  }

  test("reclaim audit: token-weighted rung gains, kept member excluded") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "Hello  World", "en", "s", 12L),
      (2L, "hello world", "en", "s", 11L),
      (3L, "hello   world", "en", "s", 13L),
      (4L, "hello, world!", "en", "s", 13L),
      (5L, "hello world", "en", "s", 11L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Dedup.reclaimAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // every doc is 2 raw tokens; groups per rung as in the
    // normalization-ladder spec, each group keeps its min-id member
    assert(rows === Seq(
      (0L, 5L, 4L, 1L, 10L, 2L, 2L),
      (1L, 5L, 4L, 1L, 10L, 2L, 0L),
      (2L, 5L, 2L, 3L, 10L, 6L, 4L),
      (3L, 5L, 1L, 4L, 10L, 8L, 2L)))
  }

  test("best-rep: survivor is the longest raw variant, flagged as diverging from min id") {
    // docs 1/2 normalize together; both fail the quality gate (no
    // stopwords), so raw length decides: doc 2 carries 4 extra raw chars.
    // Singletons 3 and 4 keep themselves, non-diverging.
    val rows = Dedup.bestRep(spark, sfDir).collect()
    assert(rows.length === 3)
    assert(rows.count(_.getAs[Boolean]("diverges_from_min_id")) === 1)
    val r = rows.find(_.getAs[Long]("n_copies") === 2L).get
    assert(r.getAs[Long]("keep_doc_id") === 2L)
    assert(r.getAs[Long]("n_copies") === 2L)
    assert(r.getAs[Long]("min_doc_id") === 1L)
    assert(r.getAs[Boolean]("diverges_from_min_id"))
  }

  test("best-rep: quality gate outranks raw length and id order") {
    import spark.implicits._
    val dir = tempSfDir()
    // 10 tokens, 8 stopwords -> the lowercase variant passes the gate;
    // its SHOUTING copy has zero stopword hits (list is lowercase) and
    // fails it, despite being longer AND smaller-id — gate wins
    val good = "the a of and to in is on w1 w2"
    writeTable(dir, "documents", Seq(
      (10L, "  " + good.toUpperCase + "  ", "en", "s", good.length.toLong + 4),
      (11L, good, "en", "s", good.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = Dedup.bestRep(spark, dir).collect().head
    assert(r.getAs[Long]("keep_doc_id") === 11L)
    assert(r.getAs[Long]("kept_q_keep") === 1L)
    assert(r.getAs[Long]("min_doc_id") === 10L)
    assert(r.getAs[Boolean]("diverges_from_min_id"))
  }

  test("minhash LSH: exact dups collapse to the rep; near-dup of distinct content found") {
    val pairs = Dedup.minHashLsh(spark, sfDir, minEst = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 2 is an exact copy of doc 1 -> collapsed before banding: the
    // copy-level pair is the exact rung's product, not an LSH candidate
    assert(!pairs.keys.exists { case (a, b) => a == 2L || b == 2L })
    assert(pairs.contains((1L, 3L)), s"near-dup pair missing: $pairs")
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: exact dups collapse to the rep; unrelated doc absent") {
    val pairs = Dedup.simHashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!pairs.keys.exists { case (a, b) => a == 2L || b == 2L })
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhash fast path (xxhash64): collapsed reps, no copy-level pairs") {
    val pairs = Dedup.minHashLsh(spark, sfDir, minEst = 0.3, family = "xxh64")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(!pairs.keys.exists { case (a, b) => a == 2L || b == 2L })
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhash fast gate: families agree on the fixture, anchor count matches the md5 rung") {
    val r = Dedup.minHashFastGate(spark, sfDir, minEst = 0.3).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("n_ref_pairs") ===
      Dedup.minHashLsh(spark, sfDir, minEst = 0.3).count())
    assert(row.getAs[Boolean]("fast_nonempty"))
    assert(row.getAs[Boolean]("recall_ok"))
    assert(row.getAs[Boolean]("precision_ok"))
  }

  test("MinHashSketchAgg equals the explode-by-k formulation signature-for-signature") {
    import org.apache.spark.sql.functions._
    val sh = Dedup.shingles(
      graft.GraftSession.table(spark, sfDir, "documents"))
    val viaAgg = sh.groupBy("doc_id")
      .agg(graft.functions.MinHashSketch.sketch(col("shingle"), 16).as("sigs"))
      .select(col("doc_id"), posexplode(col("sigs")).as(Seq("i", "mh")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val viaExplode = Dedup.minHashSignatures(sh, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(viaAgg === viaExplode)
  }

  test("MinHashArrayExpr (per-row streaming sketch) equals MinHashSketchAgg per doc") {
    import org.apache.spark.sql.functions._
    val docs = graft.GraftSession.table(spark, sfDir, "documents")
    // the per-row expression sees raw (duplicated) shingles, the agg
    // sees the distinct set — min is idempotent, so sketches must match
    val viaExpr = docs.select(col("doc_id"),
        graft.functions.ShingleColumns.minhashArray(
          graft.functions.ShingleColumns.wordShingles(col("text"), 3), 16).as("sk"))
      .filter(size(col("sk")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = graft.ops.Dedup.shingles(docs).groupBy("doc_id")
      .agg(graft.functions.MinHashSketch.sketch(col("shingle"), 16).as("sk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr.nonEmpty && viaExpr === viaAgg)
  }

  test("SimHashSketchAgg equals an independent plain-Scala simhash") {
    import org.apache.spark.sql.functions._
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      (0 until 4).foldLeft(0L)((acc, j) => (acc << 8) | (d(j) & 0xffL))
    }
    def simhash(shingles: Set[String]): Long = {
      val w = new Array[Long](32)
      shingles.foreach { s =>
        val h = h32(s)
        (0 until 32).foreach(j => w(j) += (if (((h >>> j) & 1L) == 1L) 1L else -1L))
      }
      (0 until 32).foldLeft(0L)((acc, j) => if (w(j) > 0) acc | (1L << j) else acc)
    }
    val docs = graft.GraftSession.table(spark, sfDir, "documents")
    val expected = docs.select(col("doc_id"), col("text")).collect().flatMap { r =>
      val toks = r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      if (toks.size < 3) None // shingles(n=3) emits nothing for short docs
      else Some(r.getLong(0) -> simhash(toks.sliding(3).map(_.mkString(" ")).toSet))
    }.toMap
    val got = Dedup.simHashes(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got === expected)
  }

  test("winnowing: case-variant duplicates share the exact fingerprint set") {
    val fps = Dedup.winnowFingerprints(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(fps(1L) === fps(2L)) // doc 2 normalizes to doc 1's text
    assert((fps(1L) & fps(3L)).nonEmpty) // long shared substrings survive
    assert((fps(1L) & fps(4L)).isEmpty) // no common 8-gram with the w-corpus
  }

  test("decontaminate: train docs sharing >= minOverlap shingles with eval are flagged") {
    import spark.implicits._
    val dir = tempSfDir()
    // doc 0 (0 % 97 == 0) is the eval stand-in; doc 5 repeats 4 of its
    // 3-gram shingles; doc 7 shares none
    writeTable(dir, "documents", Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en", "s", 35L),
      (5L, "alpha beta gamma delta epsilon END", "en", "s", 34L),
      (7L, "uno dos tres cuatro cinco seis", "en", "s", 30L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = Dedup.decontaminate(spark, dir, minOverlap = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // doc 5 shares shingles (alpha beta gamma), (beta gamma delta),
    // (gamma delta epsilon) = 3 of doc 0's 4
    assert(got === Seq((5L, 3L)))
    // the bloom-prefiltered twin emits the identical relation, and the
    // bloom probe is actually in its plan
    val bloomed = Dedup.decontaminateBloom(spark, dir, minOverlap = 3)
    assert(bloomed.queryExecution.executedPlan.toString.contains("might_contain"))
    assert(bloomed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === got)
  }

  test("connected components: chain merges to min label; disjoint pair stays separate") {
    import spark.implicits._
    // 1-2-3-9 is a 3-hop chain (propagation needs multiple rounds); 7-8
    // is a separate component; ids absent from pairs don't appear
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("near-dup clusters: exact dups + near-dup resolve to one component") {
    // reps are {1,3,4} (2 collapses into 1); 3 pairs with 1 (jaccard
    // 806 >= 300) so {1,3} is a rep component; expansion pulls copy 2
    // back in -> {1,2,3} with canonical id 1; doc 4 pairs nowhere
    val got = Dedup.nearDupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("cluster sizes: one 3-doc component on the shared fixture") {
    // docs {1, 2, 3} form the single near-dup cluster; doc 4 is in no
    // cluster and no dup group, so it never appears
    val rows = Dedup.clusterSizeDistribution(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows === Seq((3L, 1L, 3L, 2L)))
  }

  test("incremental clusters: bridge edge merges stored components, rest untouched") {
    import spark.implicits._
    // history (ids not %10): comp {1,2,3} root 1, comp {11,12} root 11,
    // comp {31,32} root 31 (untouched). Fresh batch node 20 bridges the
    // first two comps; fresh node 40 pairs only with unlabeled old 41.
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (11L, 12L), (31L, 32L), // history
      (3L, 20L), (20L, 11L),                      // bridge via new 20
      (40L, 41L)                                  // new 40 with unlabeled old 41
    ).toDF("doc_a", "doc_b").localCheckpoint()
    val got = Dedup.incrementalClustersFromPairs(pairs, _ % 10 === 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 11L -> 1L, 12L -> 1L,
      20L -> 1L, 31L -> 31L, 32L -> 31L, 40L -> 40L, 41L -> 40L))
    // and it equals the full rebuild
    val rebuild = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === rebuild)
  }

  test("soft-dedup weights: cluster members split ~1000, singletons keep it") {
    // docs {1,2,3} share the 3-doc cluster -> factor 3, weight 333;
    // doc 4 is unclustered -> factor 1, weight 1000
    val rows = Dedup.softDedupWeights(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, 3L, 333L), (2L, 3L, 333L),
      (3L, 3L, 333L), (4L, 1L, 1000L)))
  }

  test("substring refresh: fresh batch probes merged store, fresh-fresh dups counted") {
    import spark.implicits._
    val dir = tempSfDir()
    val base = (1 to 12).map(i => s"w$i").mkString(" ")   // base doc, 5 windows
    val span = (3 to 10).map(i => s"w$i").mkString(" ")   // = base's window @3
    val uniq = (1 to 8).map(i => s"z$i").mkString(" ")
    writeTable(dir, "documents", Seq(
      (1L, base, "en", "s", base.length.toLong),  // base split (1 % 4 != 0)
      (4L, span, "en", "s", span.length.toLong),  // fresh: dup vs BASE
      (8L, uniq, "en", "s", uniq.length.toLong),  // fresh: dup vs fresh 12
      (12L, uniq, "en", "s", uniq.length.toLong)  // fresh: dup vs fresh 8
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Dedup.substringRefresh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // only fresh docs appear; cross-batch AND within-batch duplication
    // both resolve against the merged counts
    assert(rows === Seq(
      (4L, 1L, 1L, 1000L),
      (8L, 1L, 1L, 1000L),
      (12L, 1L, 1L, 1000L)))
  }

  test("banding sweep: nested splits give monotone candidates; near-dup kept at b=4") {
    val rows = Dedup.bandingSweep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows.map(_._1) === Seq(16L, 8L, 4L, 2L))
    assert(rows.map(t => t._1 * t._2) === Seq(16L, 16L, 16L, 16L))
    // an r=8 band match implies matches at every finer split, so
    // candidate counts are non-increasing as bands shrink
    val cands = rows.map(_._3)
    assert(cands.zip(cands.tail).forall { case (wide, narrow) => wide >= narrow })
    assert(rows.forall(t => t._4 <= t._3))
    // docs 1/3 differ in one word of 30 -> high jaccard: candidates at
    // the default b=4 config (the minHashLsh spec finds the same pair)
    assert(rows.find(_._1 == 4L).get._3 >= 1L)
  }

  test("hot-bucket guard: m identical docs yield O(m) clusters, not O(m^2) candidates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tempSfDir()
    val m = 40
    val boiler = (1 to 30).map(i => s"b$i").mkString(" ")
    val near = (1 to 30).map(i => if (i == 7) "EDITED" else s"b$i").mkString(" ")
    val copies = (0L until m.toLong).map(id =>
      (id, boiler, "en", "s", boiler.length.toLong))
    writeTable(dir, "documents",
      (copies :+ ((100L, near, "en", "s", near.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val docs = graft.GraftSession.table(spark, dir, "documents")
    // UNGUARDED banding (the shape VERDICT r4 flagged): every two copies
    // share every band bucket -> m(m-1)/2 candidate pairs
    val raw = Dedup.minHashLshFromShingles(Dedup.shingles(docs)).count()
    assert(raw >= m.toLong * (m - 1) / 2, s"expected quadratic blowup, got $raw")
    // guarded path: candidates relate distinct content only — at most
    // the (rep, near-dup) pair ever materializes
    val guarded = Dedup.minHashLsh(spark, dir, minEst = 0.3)
    assert(guarded.count() <= 1L)
    assert(!guarded.collect().exists(r => r.getLong(0) < m && r.getLong(1) < m))
    // ...while cluster MEMBERSHIP still covers every copy: all m copies
    // + the near-dup resolve to one component keyed by doc 0
    val clusters = Dedup.nearDupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size === m + 1)
    assert(clusters.values.toSet === Set(0L))
    assert(clusters(100L) === 0L)
  }

  test("AQE splits the residual hot band (near-identical, non-exact-dup docs)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    // The representative collapse kills the IDENTICAL-content hot bucket;
    // the residual skew case is near-identical boilerplate (each doc a
    // small distinct suffix on a shared base -> same band signature for
    // most docs, but distinct content keys so no collapse). This pins
    // that AQE's skew-join split fires on that band self-join, i.e. the
    // hot bucket's pair space is processed by MANY tasks, not one.
    // Skew thresholds are lowered to make test-sized data skew-eligible;
    // the mechanism (OptimizeSkewedJoin on the sort-merge band join) is
    // the same one a 256MB-default production partition would trigger.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin").map(k => k -> conf.getOption(k))
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // SMJ, not broadcast
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "128b")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128b")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    try {
      val base = (1 to 40).map(i => s"t$i").mkString(" ")
      val docs = (0 until 120).map(i => (i.toLong, s"$base uniq$i"))
        .toDF("doc_id", "text")
      // distinct content -> representatives are all 120 docs; the shared
      // base still lands most of them in one (band, sig) bucket.
      // Dedup.shingles' body, spread to full width by a probe whose mass
      // saturates the cap: AQE's skew split subdivides a reduce
      // partition by MAP ranges, so a test corpus tiny enough for the
      // mass rule to plan ONE map task could never split — production
      // mass saturates the width cap
      val sh = Rebalance.spread(docs, spark.range(1L << 40).toDF(),
          Rebalance.HashDense, col("doc_id"))
        .select(col("doc_id"), explode(graft.functions.ShingleColumns
          .wordShinglesDistinct(col("text"), 3)).as("shingle"))
      val pairs = Dedup.minHashLshFromShingles(sh)
      val n = pairs.count()
      assert(n > 1000L, s"expected a dense near-dup pair set, got $n")
      pairs.collect()
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"no skew-split join in the final adaptive plan:\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("passage dedup: first occurrence wins, within-doc dups drop, order-preserving rebuild") {
    import spark.implicits._
    val dir = tempSfDir()
    def md5s(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    writeTable(dir, "documents", Seq(
      (1L, "a b c d e f g h", "en", "s", 15L),   // both passages first-seen
      (2L, "a b c d x y z w", "en", "s", 15L),   // P0 dups doc1's P0
      (3L, "e f g h", "en", "s", 7L),            // sole passage dups doc1's P1
      (4L, "a b c d e", "en", "s", 9L),          // dup P0 + short tail "e"
      (5L, "q r s t q r s t", "en", "s", 15L)    // self-duplicate passage
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Dedup.passageDedup(spark, dir, passageTokens = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(rows === Seq(
      (1L, 2L, 2L, md5s("a b c d e f g h")),
      (2L, 2L, 1L, md5s("x y z w")),
      (3L, 1L, 0L, md5s("")),
      (4L, 2L, 1L, md5s("e")),
      (5L, 2L, 1L, md5s("q r s t"))))
  }

  test("gopher clean: rejected docs don't claim passage first-occurrence") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      // fails the word-count rule (4 words) but shares doc 2's first
      // passage — as a REJECTED doc it must not steal first-occurrence
      (1L, "the a cat dog", "en", "srcA", 13L),
      (2L, "the a cat dog emu fox gnu hen ibis jay kit lark", "en", "srcB", 47L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Dedup.gopherClean(spark, dir, passageTokens = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // srcA absent (its doc was gated out); doc 2 keeps ALL 3 passages
    assert(rows === Seq(("srcB", 1L, 3L, 3L, 0L)))
  }

  test("ngram jaccard: copies collapse to the rep; near-dup scored exactly") {
    val pairs = Dedup.ngramJaccardPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // docs 1/2 are exact-content copies: like the other fuzzy rungs the
    // jaccard rung pairs REPRESENTATIVES only — no copy-level pair
    assert(!pairs.contains((1L, 2L)))
    // doc3 differs from doc1 in one word of 30 -> 3-shingles: 28 per doc,
    // 3 shingles touched by the change -> |inter| = 25, |union| = 31
    assert(pairs((1L, 3L)) === 25L * 1000L / 31L)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("fuzzy split leakage: pair labels carry every copy's split; flag replays in Scala") {
    // shared fixture: one pair (1,3); content of rep 1 has copies {1, 2}
    def split(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val b = java.lang.Long.parseLong(md.take(15), 16) % 100
      if (b <= 97) "train" else if (b == 98) "val" else "test"
    }
    val (sa, sb) = (Seq(1L, 2L).map(split).toSet, Seq(3L).map(split).toSet)
    def label(s: Set[String]): String =
      Seq("train", "val", "test").filter(s.contains).mkString("+")
    val (la, lb) = (label(sa), label(sb))
    // leak iff some copy of content A and some copy of content B live
    // in different splits — the operator's flag formula verbatim
    val expectCross = if (sa.exists(s => sb.exists(t => s != t))) 1L else 0L
    val rows = Dedup.fuzzySplitLeakage(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4), r.getLong(5))).toSeq
    assert(rows === Seq((1L, 3L, 25L * 1000L / 31L, la, lb, expectCross)))
  }

  test("e2e funnel: stages monotone, each equal to its standalone operator") {
    val rows = Dedup.curationFunnel(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(rows.map(_._1) === Seq("1_raw", "2_quality", "3_exact", "4_fuzzy",
      "5_decontaminated", "6_sampled"))
    val counts = rows.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"funnel not monotone: $rows")
    val m = rows.toMap
    assert(m("3_exact") === Dedup.cleanCorpus(spark, sfDir).count())
    assert(m("4_fuzzy") === Dedup.cleanCorpusFuzzy(spark, sfDir).count())
  }

  test("fuzzy-best: cluster survivor is the longest member, not the min id") {
    import spark.implicits._
    val dir = tempSfDir()
    val base = "the " + (1 to 29).map(i => s"w$i").mkString(" ")
    val longer = base.replace("w15 ", "CHANGED ") + " extra1 extra2"
    val other = "the " + (1 to 29).map(i => s"z$i").mkString(" ")
    writeTable(dir, "documents", Seq(
      (1L, base, "en", "s", base.length.toLong),
      (3L, longer, "en", "s", longer.length.toLong),
      (5L, other, "en", "s", other.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // min-id ladder keeps 1; the best variant keeps the LONGER doc 3
    val minIds = Dedup.cleanCorpusFuzzy(spark, dir).collect()
      .map(_.getLong(0)).toSeq
    assert(minIds === Seq(1L, 5L))
    val best = Dedup.cleanCorpusFuzzyBest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(best === Seq((3L, longer.length.toLong), (5L, other.length.toLong)))
  }

  test("ngram sweep: dup fraction falls as the window grows, hand-computed") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "a b c d", "en", "s", 7L),
      (2L, "a b x y", "en", "s", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // n=2: 6 window occurrences, "a b" in both docs -> 2 dup -> 333
    // n=4: each doc is its own single window -> 0 dup
    val rows = Dedup.ngramSweep(spark, dir, ns = Seq(2, 4)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows === Seq((2L, 6L, 2L, 333L), (4L, 2L, 0L, 0L)))
  }

  test("winnow pairs: near-dups share local fingerprints; copies collapse first") {
    // shared fixture: docs 1/3 differ by one word of 30 -> long shared
    // prefix and suffix spans certify >= 8 shared fingerprints; doc 2
    // (exact copy of 1) is collapsed before pairing; doc 4 is disjoint
    val rows = Dedup.winnowPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.map(t => (t._1, t._2)) === Seq((1L, 3L)))
    assert(rows.head._3 >= 8L)
  }

  test("winnow density: measured density falls with w, expectation column exact") {
    import spark.implicits._
    val dir = tempSfDir()
    // aperiodic-ish 300-char string: quadratic residue walk over a-z
    val s = (0 until 300).map(i => ('a' + ((i * i + 3 * i) % 26)).toChar).mkString
    writeTable(dir, "documents", Seq(
      (1L, s, "en", "s", 300L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Dedup.winnowDensityAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(rows.map(_._1) === Seq(2L, 4L, 8L, 16L))
    assert(rows.map(_._6) === Seq(666L, 400L, 222L, 117L)) // 2000 div (w+1)
    assert(rows.forall(_._3 === 293L)) // 300 - 7 grams at every w
    val dens = rows.map(_._5)
    assert(dens.zip(dens.tail).forall { case (wide, narrow) => wide > narrow },
      s"density not decreasing with w: $rows")
    assert(rows.forall(r => r._4 <= r._3 && r._4 > 0))
  }

  test("containment: nested doc caught at full score where jaccard stays silent") {
    import spark.implicits._
    val dir = tempSfDir()
    val small = (1 to 12).map(i => s"w$i").mkString(" ")          // 10 shingles
    val filler = (1 to 90).map(i => s"f$i").mkString(" ")
    writeTable(dir, "documents", Seq(
      (1L, small, "en", "s", 40L),
      (2L, s"$small $filler", "en", "s", 400L),   // fully contains doc 1
      (3L, (1 to 20).map(i => s"z$i").mkString(" "), "en", "s", 80L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // jaccard: |inter| 10, |union| 100 -> 100 milli, below the 300 gate
    val jac = Dedup.ngramJaccardPairs(spark, dir).collect()
    assert(jac.isEmpty)
    val cont = Dedup.ngramContainmentPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(cont === Seq((1L, 2L, 1000L)))
  }

  test("substring report: per-doc duplicated-window fraction at every alignment") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "a b c d e f g h", "en", "s", 15L),       // 1 window, shared with 2
      (2L, "a b c d e f g h i", "en", "s", 17L),     // windows at offsets 0 (shared), 1 (unique)
      (3L, "p q r s t u v w", "en", "s", 15L),       // 1 window, unique
      (4L, "too short", "en", "s", 9L)               // < 8 tokens: excluded
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Dedup.substringDupReport(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows === Seq(
      (1L, 1L, 1L, 1000L),
      (2L, 2L, 1L, 500L),
      (3L, 1L, 0L, 0L)))
  }

  test("substring rewrite: duplicated spans excised, remainder rebuilt in order") {
    import spark.implicits._
    val dir = tempSfDir()
    val md5 = (s: String) => {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    writeTable(dir, "documents", Seq(
      // window "a..h" at pos 0 shared with doc 2 -> tokens 0-7 excised,
      // original-case remainder "X Y Z" survives
      (1L, "a b c d e f g h X Y Z", "en", "s", 21L),
      // shared window sits at pos 1 -> tokens 1-8 excised, "Q" kept
      (2L, "Q a b c d e f g h", "en", "s", 17L),
      // within-doc repeat: "m1..m8" at pos 0 AND pos 9 -> both spans
      // excised (total-occurrence counting), separator token survives
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 sep m1 m2 m3 m4 m5 m6 m7 m8", "en", "s", 51L),
      // unique content: nothing removed
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9", "en", "s", 26L),
      // < 8 tokens: no windows, passes through whole
      (5L, "too short", "en", "s", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Dedup.substringDupRewrite(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(rows === Seq(
      (1L, 11L, 8L, 727L, 8L, md5("X Y Z")),
      (2L, 9L, 8L, 888L, 8L, md5("Q")),
      (3L, 17L, 16L, 941L, 32L, md5("sep")),
      (4L, 9L, 0L, 0L, 0L, md5("u1 u2 u3 u4 u5 u6 u7 u8 u9")),
      (5L, 2L, 0L, 0L, 0L, md5("too short"))))
  }

  test("CC convergence sum accumulates in DECIMAL(38,0) — no silent Long wrap") {
    import spark.implicits._
    val agg = Seq(Long.MaxValue, Long.MaxValue).toDF("label").agg(Dedup.labelSumCol)
    // output type pins the decimal ACCUMULATOR (sum over decimal input);
    // a Long accumulator with a result-side cast reports DecimalType too
    // late to matter — so also pin the value a wrapped Long cannot give
    assert(agg.schema.head.dataType === org.apache.spark.sql.types.DecimalType(38, 0))
    assert(agg.head().getDecimal(0) ===
      new java.math.BigDecimal("18446744073709551614")) // 2 * (2^63 - 1) > Long.MaxValue
  }

  test("source overlap: containment on min total, pairs only when shared") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      // srcA: 9 tokens -> windows {t1..t8, t2..t9}; srcB: the first
      // window only; srcC: disjoint vocabulary -> no pair row
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9", "en", "srcA", 26L),
      (2L, "t1 t2 t3 t4 t5 t6 t7 t8", "en", "srcB", 23L),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8", "en", "srcC", 23L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Dedup.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // shared = 1, totals (A=2, B=1) -> containment = 1000*1 div 1 = 1000
    assert(rows === Seq(("srcA", "srcB", 1L, 2L, 1L, 1000L)))
  }

  test("kmv overlap: under-filled sketches are exact; estimator branch engages at k") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      // same corpus as the exact-overlap test: A has 2 windows, B has
      // 1 (shared with A), C is disjoint with 1
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9", "en", "srcA", 26L),
      (2L, "t1 t2 t3 t4 t5 t6 t7 t8", "en", "srcB", 23L),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8", "en", "srcC", 23L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // k=128 >> all counts: every sketch is the full set, so every
    // estimate is EXACT (the under-filled branch) — including the
    // union/intersection of each pair
    val rows = Dedup.kmvSourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(rows === Seq(
      ("srcA", "srcB", 2L, 1L, 2L, 1L, 2L, 1L),   // union {w1,w2}, inter {w1}
      ("srcA", "srcC", 3L, 0L, 2L, 1L, 3L, 0L),
      ("srcB", "srcC", 2L, 0L, 1L, 1L, 2L, 0L)))
    // k=1 forces the estimator branch: k_used == 1 and the estimate is
    // (k-1)*M div u_1 = 0 — degenerate but well-defined (no div-by-zero,
    // no overflow); asserts the branch switches exactly at fill == k
    val est = Dedup.kmvSourceOverlap(spark, dir, k = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(6))).toSeq
    assert(est.forall { case (_, _, kUsed, _) => kUsed == 1L })
    assert(est.forall { case (_, _, _, estU) => estU == 0L })
  }

  test("minhash calibration: near-dups band near zero error, disjoint docs never pair") {
    import spark.implicits._
    val dir = tempSfDir()
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    writeTable(dir, "documents", Seq(
      (1L, base + " tail1", "en", "s", 10L),
      (2L, base + " tail2", "en", "s", 10L),   // near-dup of 1: high jaccard
      (3L, (31 to 60).map(i => s"z$i").mkString(" "), "en", "s", 10L) // disjoint
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = Dedup.minhashCalibration(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // exactly the (1,2) candidate pair; its estimate sits within one
    // band of the exact score (err_band 10 = zero-centered, +-1 band =
    // +-200 milli of sketch noise at k=16)
    assert(rows.map(_._2).sum === 1L)
    assert(rows.forall { case (band, _, mae) =>
      band >= 8L && band <= 12L && mae <= 250L })
  }
}
