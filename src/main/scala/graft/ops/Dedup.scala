package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession.table
import graft.functions.OracleHash._
import graft.Materialize.MaterializeOps

/** Deduplication operators for LLM training data, at the four standard
  * rungs of the exact->fuzzy ladder:
  *
  *   1. exact        — hash the normalized content, keep one doc per hash
  *   2. MinHash+LSH  — shingle -> minhash signature -> banded buckets ->
  *                     candidate pairs (the MapReduce-friendly classic)
  *   3. SimHash      — 32-bit sign-of-weighted-bits sketch, hamming<=d pairs
  *   4. n-gram Jaccard — exact set overlap on candidate pairs
  *
  * Scale design (100 TB):
  *  - everything is shuffle-on-key; no pairwise O(n^2) stage ever runs on
  *    the full corpus — pairs only materialize inside an LSH/simhash
  *    bucket or a shared-rare-shingle group.
  *  - hot shingles (document-frequency > maxDf) are dropped from
  *    CANDIDATE GENERATION (not from verification) — the classic
  *    stop-shingle guard that kills the quadratic blowup a frequent
  *    shingle would cause. Verification recomputes exact Jaccard on the
  *    full shingle sets of each candidate pair.
  *  - hashes are md5-derived for oracle parity (see OracleHash); swap to
  *    xxhash64 in production for ~10x hash throughput.
  *  - shared intermediates (shingle sets, minhash signatures, sketches)
  *    are materialized ONCE via the graft.Materialize seam before any
  *    self-join. Without it, Catalyst re-derives the full upstream
  *    pipeline for EACH side of every self-join — the DAG cost
  *    multiplies 4-10x (the dedup suite measured 468s -> ~20s at sf0.1
  *    from this one change). The seam is localCheckpoint by default
  *    (blocks freed by the ContextCleaner as plans are collected) and
  *    flips to persist(MEMORY_AND_DISK) + reliable checkpoint under
  *    `spark.graft.reliableCheckpoint=true` for multi-executor clusters
  *    where executor loss must be recoverable mid-run
  *    (CheckpointSeamSpec proves both modes result-identical).
  */
object Dedup {

  /** Word shingles of size n over single-space-tokenized, LOWERCASED
    * text (case-normalized so the fuzzy ladder catches the same
    * duplicates `exact` catches; whitespace runs collapse via the
    * empty-token filter). Output: (doc_id, shingle) distinct.
    *
    * Backed by the native WordShinglesExpr (one JVM loop per row,
    * codegen'd via static call) — the transform/sequence/slice
    * formulation it replaces is interpreted per element; semantics are
    * identical (DedupSpec + every dedup oracle pins them).
    *
    * The distinct is computed IN-ROW (the expression's hash-set dedup
    * pass, O(tokens) — NOT array_distinct, which is O(m^2) for string
    * arrays): every shingle of a doc originates in that doc's single
    * source row, so (doc_id, shingle) dedup is within-row by
    * construction and needs no dedup exchange — the `.distinct()` this
    * replaces shipped every raw shingle string (~3x corpus bytes for
    * n = 3) through a corpus-wide shuffle to dedup sets that never left
    * their row. The one exchange kept is a repartition of the COMPACT
    * doc rows (1x corpus bytes, BEFORE the explode): it spreads the
    * downstream per-shingle sketch hashing across the full shuffle
    * parallelism even when the scan yields few splits, and because it
    * hashes on doc_id, every `groupBy("doc_id")` sketch consumer
    * aggregates co-partitioned, exchange-free. Net vs the old plan:
    * one 1x-byte exchange replaces a 3x-byte exchange plus the sketch
    * aggregate's own shuffle.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    // EXPLICIT width: the keyed form `repartition(col)` is
    // AQE-coalescible, and at harness scale the coalescer packed this
    // exchange back to ONE partition (compact doc rows ~850 KB < the
    // 1 MB minPartitionSize), serializing the downstream md5 sketch
    // hashing this spread exists for — see graft.Rebalance.
    graft.Rebalance.spread(docs, docs, graft.Rebalance.HashDense, col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.ShingleColumns.wordShinglesDistinct(col("text"), n))
          .as("shingle"))

  /** 1. Exact dedup: group by md5 of normalized text, keep the smallest
    * doc_id as canonical. One shuffle on the 128-bit key; group sizes are
    * duplicate-cluster sizes (tiny), so no skew risk.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    table(spark, sfDir, "documents")
      .select(col("doc_id"), md5(norm).as("content_key"))
      .groupBy("content_key")
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")
  }

  /** dedup_normalization: the normalization-ladder dedup audit — how
    * many extra documents each successive normalization rung collapses:
    *   rung 0 raw bytes, 1 + lowercase, 2 + whitespace collapse,
    *   3 + punctuation strip.
    * This is the measurement behind a corpus build's canonicalization
    * choice ("is aggressive normalization worth it, or is it mostly
    * collapsing near-identical boilerplate the fuzzy ladder would catch
    * anyway"): each rung's keys are a coarsening of the previous
    * rung's, so n_collapsible is monotone and gain_vs_prev is exactly
    * the docs that rung ALONE buys.
    *
    * Scale shape: one narrow pass emits (rung, h60(norm)) per doc per
    * rung (x4, like the shingle explode but constant fanout), then ONE
    * partial-aggregated distinct-count per rung — group keys are the 4
    * rungs, each group's distinct set is hash-collapsed map-side. The
    * 60-bit key stands in for the full string (audit-grade: a collision
    * undercounts groups by 1 in ~2^60); the 4-row lag window is
    * domain-bounded. Output: (rung, n_docs, n_distinct, n_collapsible,
    * gain_vs_prev), ordered by rung.
    */
  def normalizationAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k0 = col("text")
    val k1 = lower(col("text"))
    val k2 = regexp_replace(trim(k1), "\\s+", " ")
    val k3 = regexp_replace(k2, "[^a-z0-9 ]", "")
    val keyed = table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(array(
        Seq(k0, k1, k2, k3).zipWithIndex.map { case (k, i) =>
          struct(lit(i.toLong).as("rung"), graft.functions.OracleHash.h60(k).as("hkey"))
        }: _*)).as("r"))
      .select(col("r.rung").as("rung"), col("r.hkey").as("hkey"))
    val perRung = keyed.groupBy("rung")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("hkey")).as("n_distinct"))
      .withColumn("n_collapsible", col("n_docs") - col("n_distinct"))
    perRung
      .withColumn("gain_vs_prev",
        col("n_collapsible") -
          coalesce(lag(col("n_collapsible"), 1).over(Window.orderBy("rung")), lit(0L)))
      .orderBy("rung")
  }

  /** dedup_reclaim: the TOKEN-weighted normalization-ladder audit —
    * normalizationAudit counts collapsible documents per rung; this
    * prices them: how many training tokens each rung actually reclaims
    * (every group keeps its min-doc_id representative, every other
    * member's raw tokens are reclaimed). Doc counts mislead capacity
    * planning when duplicates skew long or short — the token number is
    * the one a budget allocator (mix_token_budget) consumes.
    *
    * Scale shape: the same constant x4 rung explode, then ONE shuffle
    * on (rung, 60-bit key) with map-side partial aggregation — the
    * kept member rides a min(struct(doc_id, n_tok)) accumulator, never
    * a window — and a 4-row rollup. The 4-row lag window is
    * domain-bounded.
    *
    * Output: (rung, n_docs, n_groups, n_collapsible, tokens_total,
    * tokens_reclaimed, reclaim_gain_vs_prev), ordered by rung.
    */
  def reclaimAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k1 = lower(col("text"))
    val k2 = regexp_replace(trim(k1), "\\s+", " ")
    val k3 = regexp_replace(k2, "[^a-z0-9 ]", "")
    val nTok = size(filter(split(col("text"), " "), t => length(t) > 0)).cast("long")
    val keyed = table(spark, sfDir, "documents")
      .select(col("doc_id"), nTok.as("n_tok"), explode(array(
        Seq(col("text"), k1, k2, k3).zipWithIndex.map { case (k, i) =>
          struct(lit(i.toLong).as("rung"), graft.functions.OracleHash.h60(k).as("hkey"))
        }: _*)).as("r"))
      .select(col("r.rung").as("rung"), col("r.hkey").as("hkey"),
        col("doc_id"), col("n_tok"))
    val perGroup = keyed.groupBy("rung", "hkey")
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tok_sum"),
        min(struct(col("doc_id"), col("n_tok"))).as("kept"))
    perGroup.groupBy("rung")
      .agg(sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).as("n_groups"),
        sum(col("tok_sum")).cast("long").as("tokens_total"),
        sum(col("tok_sum") - col("kept.n_tok")).cast("long").as("tokens_reclaimed"))
      .withColumn("n_collapsible", col("n_docs") - col("n_groups"))
      .withColumn("reclaim_gain_vs_prev",
        col("tokens_reclaimed") -
          coalesce(lag(col("tokens_reclaimed"), 1).over(Window.orderBy("rung")), lit(0L)))
      .select(col("rung"), col("n_docs"), col("n_groups"), col("n_collapsible"),
        col("tokens_total"), col("tokens_reclaimed"), col("reclaim_gain_vs_prev"))
      .orderBy("rung")
  }

  /** (doc_id, rep_id, n_copies): each doc mapped to the representative
    * (minimum doc_id) of its exact-content group — `exact`'s md5 grouping
    * as a per-doc map. One shuffle on the content key; both window
    * functions share the single exchange.
    */
  def exactDupMap(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    val w = Window.partitionBy("content_key")
    docs.select(col("doc_id"), md5(norm).as("content_key"))
      .withColumn("rep_id", min(col("doc_id")).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .select("doc_id", "rep_id", "n_copies")
  }

  /** The docs frame restricted to one representative per exact-content
    * key — the identical-content hot-bucket guard the
    * fuzzy rungs run behind: identical documents have IDENTICAL sketches,
    * so banding the raw corpus puts all m copies of a boilerplate page in
    * the same bucket in EVERY band — m(m-1)/2 candidate pairs, quadratic
    * on exactly the key a dup-heavy crawl corpus makes hottest. Collapsing
    * first makes candidate volume scale with DISTINCT content; the exact
    * rung already owns copy-level dedup, and cluster membership expands
    * back through `exactDupMap` where copies matter (nearDupClusters).
    */
  def representatives(docs: DataFrame): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    val reps = docs.select(col("doc_id"), md5(norm).as("content_key"))
      .groupBy("content_key").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(reps, Seq("doc_id"), "left_semi")
  }

  /** MinHash signatures: for hash index i in [0, k), sig_i(doc) =
    * min over shingles of hash_i(shingle). Computed by exploding
    * (doc, shingle) x k and min-aggregating — partial aggregation makes
    * the shuffle ~|docs| x k rows regardless of shingle count.
    * Output: (doc_id, i, mh).
    *
    * `hasher(i, shingle)` is the hash family: the default md5-derived
    * h60i is DuckDB-reproducible (the correctness gate); `fastHasher`
    * (xxhash64, codegen'd, ~10x cheaper) is the production path — the
    * sketch math is identical, only the oracle can't follow it.
    */
  def minHashSignatures(sh: DataFrame, k: Int = 16,
                        hasher: (Column, Column) => Column = h60i): DataFrame =
    sh.withColumn("i", explode(array((0 until k).map(lit(_)): _*)))
      .groupBy("doc_id", "i")
      .agg(min(hasher(col("i"), col("shingle"))).as("mh"))

  /** Family-default LSH banding split for the k=16 sketch: b=8 bands of
    * r=2 rows (re-defaulted from b=4/r=4 on the Zipf-corpus
    * evidence). The banding threshold is ~(1/b)^(1/r) — the similarity
    * where a pair's candidate probability crosses ~1-1/e. The family's
    * working verification threshold is est >= 0.5, and b=4/r=4 puts the
    * S-curve midpoint at ~0.71: pairs in the 0.5-0.7 band are mostly
    * MISSED before verification ever sees them. Measured on the planted-
    * dup Zipfian corpus (tools/make_zipf_docs.py D>0; mutation rates
    * 0-20% => sims ~1.0 down to ~0.55): b=8 caught 147 est>=0.5 pairs at
    * 812 permille precision vs b=4's 111 at 982 — a 24% recall loss the
    * 31-word harness corpus had masked (there, every true pair sits at
    * sim ~0.9+ where both splits catch everything, while b=8's candidate
    * volume looks junk-flooded only because random 31-word docs ALREADY
    * share ~0.3-0.5 Jaccard). b=8/r=2 midpoint ~0.35 matches the 0.5
    * threshold with margin; candidate volume stays banded and
    * representative-bounded on both corpora (dedup_banding_sweep prices
    * all four splits every run; both corpora are cited in BASELINE.md).
    */
  val defaultLshBands: Int = 8

  /** 2. MinHash + LSH banding: k signatures in b bands of r rows
    * (k = b*r). Docs sharing a full band signature become candidates;
    * candidates are scored by signature agreement (the unbiased Jaccard
    * estimate). Emits pairs with est >= minEst.
    *
    * Only bucket-mates are ever paired — the corpus-wide cross join never
    * exists. Band signature is the concatenated minhash run: exact, no
    * truncation collisions.
    *
    * Plan shape (the §7 custom-aggregate upgrade): ONE aggregation
    * computes each doc's whole k-sketch via MinHashSketchAgg (a
    * TypedImperativeAggregate over a long[k] buffer), bands are narrow
    * array slices of the sketch, and candidate scoring compares the two
    * sketch arrays with zip_with — two shuffles total (the sketch
    * groupBy and the band-bucket self-join) versus five in the
    * explode-by-k formulation (whose signatures DedupSpec proves
    * identical). `family` = "md5" (oracle-reproducible h60i, the
    * correctness gate) or "xxh64" (production path).
    *
    * Runs over exact-content REPRESENTATIVES (see `representatives`):
    * emitted pairs relate distinct content only — copy-level duplicates
    * are the exact rung's product, not a quadratic bucket here.
    */
  def minHashLsh(spark: SparkSession, sfDir: String,
                 shingleN: Int = 3, k: Int = 16, bands: Int = defaultLshBands,
                 minEst: Double = 0.5,
                 family: String = "md5"): DataFrame =
    minHashLshFromShingles(
      repShingleStore(spark, sfDir, shingleN)._2,
      k, bands, minEst, family)

  /** minHashLsh over a PRE-COMPUTED (doc_id, shingle) frame — lets a
    * composed query (nearDupClusters, cleanCorpusFuzzy) share ONE corpus
    * scan + shingle pass across all three fuzzy rungs instead of
    * re-deriving it per rung.
    */
  def minHashLshFromShingles(sh: DataFrame, k: Int = 16, bands: Int = defaultLshBands,
                             minEst: Double = 0.5,
                             family: String = "md5"): DataFrame = {
    val r = k / bands
    // materialized once: referenced by both sides of the band self-join
    val sig = sh.groupBy("doc_id")
      .agg(graft.functions.MinHashSketch.sketch(col("shingle"), k, family).as("sigs"))
      .materialized
    // band key: the r consecutive minhashes of the band, joined exact.
    // The full k-slot sketch RIDES THROUGH the band join:
    // scoring then reads the two carried arrays directly, replacing the
    // two doc-keyed scoring re-joins (2 exchanges of the candidate set)
    // the old plan paid; the est filter runs BEFORE the pair distinct,
    // so the distinct exchange carries only surviving pairs. Same pair
    // set, same estimates — per-pair est is a pure function of the two
    // sketches, so filter/distinct commute (oracle re-verifies).
    val bandSig = sig
      .withColumn("band", explode(array((0 until bands).map(lit(_)): _*)))
      .withColumn("sig", array_join(
        transform(slice(col("sigs"), col("band") * r + 1, lit(r)), _.cast("string")), ","))
      .select("doc_id", "band", "sig", "sigs")
    val a = bandSig.as("a")
    val b = bandSig.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(filter(zip_with(col("a.sigs"), col("b.sigs"), (x, y) => x === y),
          agree => agree)) / lit(k)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
      .distinct() // a pair matching in >1 band collapses to one row
      .orderBy("doc_a", "doc_b")
  }

  /** dedup_minhash_fast gate: runs the PRODUCTION hash family (xxh64,
    * codegen'd, ~10x cheaper than the md5-derived oracle family) and the
    * oracle family over the SAME shingle frame, then verifies in-plan
    * that the two LSH rungs agree on the pair set. The xxh64 sketch
    * itself is not DuckDB-reproducible (no xxhash64 there), so the raw
    * fast pairs can't be hash-compared — instead the CLAIMS about them
    * are: the oracle replays the md5 chain for `n_ref_pairs` and asserts
    * the three gate booleans TRUE (the urlcount_cms / text_len_quantiles
    * pattern). A FALSE from the Spark side is a real sketch-family bug
    * the hash compare must catch.
    *
    * Thresholds: recall/precision >= 90% between the two families'
    * OUTPUT pair sets (both post-est-filter). Both families band the
    * same k=16 sketch geometry over the same shingles, so a true
    * near-dup pair (est >= 0.5 under one family) collides under the
    * other with the same banding probability — measured agreement on
    * the synthetic corpus is 100% at sf0.001/0.01/0.1; 90% leaves room
    * for genuine borderline-pair family noise without masking breakage.
    *
    * Scale shape: ONE corpus scan + shingle pass (localCheckpoint)
    * feeds both rungs; each rung is the audited bucketed LSH (never
    * all-pairs); the compare joins two pair sets of candidate volume,
    * then three 1-row aggregates cross-join (1-row broadcasts).
    */
  def minHashFastGate(spark: SparkSession, sfDir: String,
                      shingleN: Int = 3, k: Int = 16, bands: Int = defaultLshBands,
                      minEst: Double = 0.5): DataFrame = {
    val sh = repShingleStore(spark, sfDir, shingleN)._2
    val ref = minHashLshFromShingles(sh, k, bands, minEst, "md5")
      .select("doc_a", "doc_b")
    val fast = minHashLshFromShingles(sh, k, bands, minEst, "xxh64")
      .select("doc_a", "doc_b")
    val common = ref.join(fast, Seq("doc_a", "doc_b"), "left_semi")
    val nRef = ref.agg(count(lit(1)).as("n_ref_pairs"))
    val nFast = fast.agg(count(lit(1)).as("n_fast"))
    val nCommon = common.agg(count(lit(1)).as("n_common"))
    nRef.crossJoin(nFast).crossJoin(nCommon)
      .select(
        col("n_ref_pairs"),
        (col("n_fast") > 0).as("fast_nonempty"),
        (col("n_common") * 10 >= col("n_ref_pairs") * 9).as("recall_ok"),
        (col("n_common") * 10 >= col("n_fast") * 9).as("precision_ok"))
  }

  /** dedup_minhash_calibration: sketch-quality audit — for every LSH
    * candidate pair, compare the MinHash Jaccard ESTIMATE (sketch-slot
    * agreement) against the EXACT shingle-set Jaccard, rolled up into
    * error bands. This is the table that justifies (or indicts) the
    * k/bands choice before a 100 TB dedup run trusts the sketch: a fat
    * band far from zero error means k is too small for the corpus's
    * similarity profile. "Measure, don't guess" applied to the sketch
    * itself.
    *
    * All integer: est_milli = (1000 * agreeing slots) div k,
    * exact_milli from inter/union counts, err_band =
    * (est - exact + 1000) div 100 (shifted so floor-division never sees
    * a negative numerator — `div` truncates toward zero, `//` floors).
    *
    * Scale shape: candidates come from the SAME band self-join as the
    * LSH rung (bucket-mates only, representatives only — never
    * all-pairs); exact intersections join shingles onto candidate PAIRS
    * (cost = sum over pairs of shingle-set size, linear in candidate
    * volume); the rollup is bounded at 21 bands. The HOF sketch compare
    * is interpreted (CodegenFallback) but runs only on candidate pairs.
    */
  def minhashCalibration(spark: SparkSession, sfDir: String,
                         shingleN: Int = 3, k: Int = 16,
                         bands: Int = defaultLshBands): DataFrame = {
    val sh = repShingleStore(spark, sfDir, shingleN)._2
    val r = k / bands
    val sig = sh.groupBy("doc_id")
      .agg(graft.functions.MinHashSketch.sketch(col("shingle"), k, "md5").as("sigs"))
      .materialized
    // sketch arrays ride through the band join and est is computed
    // BEFORE the pair distinct (the minHashLsh round-17 carry-through:
    // same pairs, same estimates, two scoring re-joins removed); the
    // materialized candidate frame carries est so the exact-jaccard
    // side below still joins on bare pairs
    val bandSig = sig
      .withColumn("band", explode(array((0 until bands).map(lit(_)): _*)))
      .withColumn("sig", array_join(
        transform(slice(col("sigs"), col("band") * r + 1, lit(r)), _.cast("string")), ","))
      .select("doc_id", "band", "sig", "sigs")
    val cand = bandSig.as("a").join(bandSig.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr(s"(1000 * size(filter(zip_with(a.sigs, b.sigs, (x, y) -> x = y), " +
          s"a -> a))) div $k").as("est_milli"))
      .distinct()
      .materialized
    val est = cand
    val inter = cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"),
        col("doc_b") === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    est
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("exact_milli", expr("(1000 * inter) div (sz_a + sz_b - inter)"))
      .groupBy(expr("(est_milli - exact_milli + 1000) div 100").as("err_band"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(abs(est_milli - exact_milli)) div count(1)").as("mean_abs_err_milli"))
      .orderBy("err_band")
  }

  /** dedup_banding_sweep: the LSH S-curve measured — candidate volume
    * and precision for every (bands, rows) split of the SAME k=16
    * sketch. Theory says P(candidate) = 1-(1-s^r)^b; this table is the
    * measured side a 100 TB run consults before committing: more,
    * shorter bands (b=16, r=1) catch low-similarity pairs at the cost
    * of candidate volume; fewer, longer bands (b=2, r=8) generate
    * almost nothing but only at high similarity. n_kept_500 counts
    * candidates surviving the working est >= 0.5 threshold, so
    * precision_milli is the fraction of candidate work that was not
    * wasted — the number that prices each config's verification stage.
    *
    * Scale shape: ONE sketch aggregation (checkpointed) feeds all four
    * banding configs; each config is the standard band-bucket
    * self-join over representatives (bucket-mates only, never
    * all-pairs), est scored on the sketch arrays, then a 4-row rollup.
    * Nested band splits make candidate sets monotone (an r=8 band
    * match implies matches at every finer split), which the spec pins.
    *
    * Output: (bands, rows_per_band, n_candidates, n_kept_500,
    * precision_milli — NULL when no candidates), ordered by bands desc.
    */
  def bandingSweep(spark: SparkSession, sfDir: String,
                   shingleN: Int = 3, k: Int = 16,
                   configs: Seq[Int] = Seq(16, 8, 4, 2)): DataFrame = {
    val sig = repShingleStore(spark, sfDir, shingleN)._2
      .groupBy("doc_id")
      .agg(graft.functions.MinHashSketch.sketch(col("shingle"), k, "md5").as("sigs"))
      .materialized // one sketch pass feeds every banding config
    val perCfg = configs.map { bands =>
      val r = k / bands
      // sketch arrays ride through the band join (the minHashLsh round-17
      // carry-through): est scores on the carried arrays, the distinct
      // collapses (pair, est) — no scoring re-joins. Same candidate set
      // and estimates; the distinct must stay BEFORE the rollup because
      // the sweep counts candidates, not (pair, band) matches.
      val bandSig = sig
        .withColumn("band", explode(array((0 until bands).map(lit(_)): _*)))
        .withColumn("bsig", array_join(
          transform(slice(col("sigs"), col("band") * r + 1, lit(r)), _.cast("string")), ","))
        .select("doc_id", "band", "bsig", "sigs")
      bandSig.as("a").join(bandSig.as("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr(s"(1000 * size(filter(zip_with(a.sigs, b.sigs, (x, y) -> x = y), " +
            s"a -> a))) div $k").as("est_milli"))
        .distinct()
        .select(lit(bands.toLong).as("bands"), col("est_milli"))
    }
    val counts = perCfg.reduce(_.unionAll(_))
      .groupBy("bands")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("est_milli") >= 500L, 1L).otherwise(0L)).as("n_kept_500"))
    val grid = spark.range(1).select(explode(array(configs.map(b =>
        struct(lit(b.toLong).as("bands"), lit((k / b).toLong).as("rows_per_band"))): _*)).as("c"))
      .select(col("c.bands").as("bands"), col("c.rows_per_band").as("rows_per_band"))
    grid.join(counts, Seq("bands"), "left")
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_kept_500"), lit(0L)).as("n_kept_500"))
      .withColumn("precision_milli",
        when(col("n_candidates") > 0, expr("(1000 * n_kept_500) div n_candidates"))
          .otherwise(lit(null).cast("long")))
      .orderBy(col("bands").desc)
  }

  // -------------------------------------------------------------------
  // Incremental dedup against a PERSISTED signature index — the shape a
  // production crawl pipeline runs daily: the corpus's minhash band
  // signatures are written ONCE as a bucketed table, and each new batch
  // is sketched and joined against ONLY the matching index buckets. No
  // corpus rescan, no re-sketch of old documents; per-day cost scales
  // with the batch, not the corpus. (The streaming twins cover the
  // in-flight case; this is the reusable batch index they build on.)
  // -------------------------------------------------------------------

  /** Banded minhash keys with a SINGLE self-describing band key
    * `"<band>|<mh,...,mh>"` — one string column so the index can be
    * bucketed on it and probed with a single-key equi-join (the bucketed
    * side plans with no Exchange). Output: (doc_id, sig, sigs) — one row
    * per (doc, band), the full k-slot sketch riding along for candidate
    * scoring without a re-join.
    */
  private def bandKeys(sh: DataFrame, k: Int, bands: Int,
                       family: String): DataFrame = {
    val r = k / bands
    sh.groupBy("doc_id")
      .agg(graft.functions.MinHashSketch.sketch(col("shingle"), k, family).as("sigs"))
      .withColumn("band", explode(array((0 until bands).map(lit(_)): _*)))
      .withColumn("sig", concat(col("band").cast("string"), lit("|"),
        array_join(transform(slice(col("sigs"), col("band") * r + 1, lit(r)),
          _.cast("string")), ",")))
      .select("doc_id", "sig", "sigs")
  }

  /** Build the persisted signature index over `docs`: exact-content
    * representatives -> k-slot minhash sketch -> banded keys, written as
    * parquet BUCKETED BY the band key (graft.sources.Bucketed). The
    * bucket shuffle is paid once at build time; every later probe joins
    * the stored buckets directly. At 100 TB this table is ~|distinct
    * docs| x bands rows of (string, long, long[k]) — a small fraction of
    * corpus bytes — and nBuckets is sized to corpus volume, not batch
    * volume.
    */
  def buildMinHashIndex(spark: SparkSession, docs: DataFrame,
                        name: String, path: String,
                        shingleN: Int = 3, k: Int = 16, bands: Int = defaultLshBands,
                        family: String = "md5", nBuckets: Int = 8): Unit =
    graft.sources.Bucketed.writeBucketed(
      spark, bandKeys(shingles(representatives(docs), shingleN), k, bands, family),
      name, path, "sig", nBuckets)

  /** Run-lifetime store for the harness splits' band-key frames — the
    * index lifecycle family (incremental probe, refresh fold-in,
    * compaction) all sketch the SAME history/new-batch splits, and the
    * refresh audit's rebuild side is the full-corpus sketch over the
    * stored rep shingles. One sketch pass per (split, params) per run.
    * `which` ∈ hist | new (the full-corpus variant is single-consumer,
    * so the refresh audit builds it unstored — ≥2-consumer contract).
    */
  private val bandKeyStores = graft.ArtifactStore.frames("dedup.bandKeys")
  private def storedBandKeys(spark: SparkSession, sfDir: String, which: String,
                             mod: Int, shingleN: Int, k: Int, bands: Int,
                             family: String = "md5"): DataFrame =
    bandKeyStores.getOrBuild(spark, sfDir, Seq("documents"),
        which, mod, shingleN, k, bands, family) {
      val docs = table(spark, sfDir, "documents")
      val sh = which match {
        case "hist" =>
          shingles(representatives(docs.filter(col("doc_id") % mod =!= 0)), shingleN)
        case "new" =>
          shingles(representatives(docs.filter(col("doc_id") % mod === 0)), shingleN)
        case other => throw new IllegalArgumentException(
          s"storedBandKeys split selector must be hist|new, got '$other'")
      }
      bandKeys(sh, k, bands, family).materialized
    }

  /** Probe the stored index with a new batch: sketch ONLY the batch,
    * join on the band key (index side exchange-free — bucketed on the
    * key; PersistedIndexSpec pins that), score candidate pairs by
    * k-slot sketch agreement. Output: (doc_new, doc_idx, est_jaccard)
    * for est >= minEst — each new document paired with the existing
    * corpus documents it near-duplicates. Batch-internal duplicates are
    * the ordinary batch rung's job (run `minHashLsh` over the batch, or
    * fold the batch into the index afterwards).
    */
  def probeMinHashIndex(index: DataFrame, newDocs: DataFrame,
                        shingleN: Int = 3, k: Int = 16, bands: Int = defaultLshBands,
                        minEst: Double = 0.5,
                        family: String = "md5"): DataFrame =
    probeMinHashIndexKeys(index,
      bandKeys(shingles(representatives(newDocs), shingleN), k, bands, family),
      k, minEst)

  /** [[probeMinHashIndex]] over a PRE-SKETCHED batch band-key frame —
    * the storedBandKeys path for the lifecycle queries.
    */
  private def probeMinHashIndexKeys(index: DataFrame, batchKeys: DataFrame,
                                    k: Int, minEst: Double): DataFrame = {
    val batch = batchKeys
      .select(col("doc_id").as("doc_new"), col("sig"), col("sigs").as("sigs_new"))
    val idx = index.select(col("doc_id").as("doc_idx"), col("sig"),
      col("sigs").as("sigs_idx"))
    batch.join(idx, Seq("sig"))
      .select("doc_new", "doc_idx", "sigs_new", "sigs_idx")
      .distinct() // a pair sharing >1 band collapses to one row (sketches are per-doc constants)
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sigs_new"), col("sigs_idx"), (x, y) => x === y),
          agree => agree)) / lit(k))
      .filter(col("est_jaccard") >= minEst)
      .select("doc_new", "doc_idx", "est_jaccard")
      .orderBy("doc_new", "doc_idx")
  }

  /** dedup_incremental: the two halves composed on the harness corpus —
    * docs with doc_id % mod != 0 play the existing corpus (indexed,
    * bucketed, persisted), docs with doc_id % mod == 0 play the new
    * crawl batch probing it. The index lands under the JVM temp dir so
    * the query is re-runnable anywhere the harness runs; production
    * builds the index in one job and probes it from every later one.
    */
  def incrementalMinHash(spark: SparkSession, sfDir: String,
                         mod: Int = 10, shingleN: Int = 3, k: Int = 16,
                         bands: Int = defaultLshBands, minEst: Double = 0.5): DataFrame =
    probeMinHashIndexKeys(
      spark.table(minHashIndexTable(spark, sfDir, mod, shingleN, k, bands)),
      storedBandKeys(spark, sfDir, "new", mod, shingleN, k, bands), k, minEst)

  /** The PERSISTED band-signature index TABLE over the history split —
    * the probe target of both the batch (dedup_incremental) and the
    * ingest-time (stream_dedup_incremental) halves of the daily cycle,
    * so it is built ONCE per (corpus, params) per run and served from
    * the store (the streaming twin used to rebuild it — sketch + bucket
    * write — on every invocation). Returns the catalog
    * table name; the table is bucketed on `sig` so the batch probe's
    * sort-merge join reads co-located buckets with no index-side
    * Exchange (PersistedIndexSpec), while the streaming probe
    * broadcasts it per micro-batch. Refresh/compact keep their OWN
    * tables — they mutate (append/rewrite), and a shared artifact must
    * never be mutated by one consumer under another.
    */
  // release is a no-op by bm25Stores' reasoning: the name is
  // deterministic per slot, so a rebuild's DROP TABLE + overwrite
  // already reclaims the superseded files
  private val minHashIndexStores =
    new graft.ArtifactStore[String]("dedup.minhashIndexTable")(_ => ())
  private[graft] def minHashIndexTable(spark: SparkSession, sfDir: String,
                                       mod: Int = 10, shingleN: Int = 3,
                                       k: Int = 16, bands: Int = defaultLshBands): String = {
    val suffix = Integer.toHexString(
      (sfDir, mod, shingleN, k, bands).hashCode & 0x7fffffff)
    val name = graft.sources.Bucketed.scopedName(
      spark, s"graft_minhash_index_$suffix")
    minHashIndexStores.getOrBuild(spark, sfDir, Seq("documents"), mod, shingleN, k, bands) {
      graft.sources.Bucketed.writeBucketed(spark,
        // compact the session-wide band-key frame before the bucketed
        // write at harness scale (partitions x buckets file fan-out —
        // see Rebalance.writeCompactIfNarrow)
        graft.Rebalance.writeCompactIfNarrow(
          storedBandKeys(spark, sfDir, "hist", mod, shingleN, k, bands),
          table(spark, sfDir, "documents")),
        name, graft.sources.Bucketed.scopedPath(spark, name), "sig", 8)
      name
    }
    // the relation cache is per session: a rebuild from another session
    // sharing the catalog (the streaming twin's clone) leaves this one
    // holding the replaced files' listing
    spark.catalog.refreshTable(name)
    name
  }

  /** dedup_index_refresh: the fold-in half of the daily cycle — after
    * probing (dedup_incremental), the new batch's band signatures are
    * APPENDED to the stored bucketed index so tomorrow's batch probes
    * today's documents too. The query audits the folded index against a
    * from-scratch rebuild over the full corpus: per band,
    * (n_folded, n_rebuild, n_redundant). The redundancy is exactly the
    * cross-split duplicate contents (each side's representative of a
    * content pair survives the per-side collapse), constant across
    * bands — the price of never rescanning the corpus, and the quantity
    * a periodic compaction would reclaim. At 100 TB the fold-in writes
    * |batch reps| x bands rows; the rebuild here exists only to state
    * the audit relation the oracle can verify.
    */
  def indexRefreshAudit(spark: SparkSession, sfDir: String,
                        mod: Int = 10, shingleN: Int = 3, k: Int = 16,
                        bands: Int = defaultLshBands, nBuckets: Int = 8): DataFrame = {
    val name = graft.sources.Bucketed.scopedName(spark, "graft_minhash_index_refresh")
    // write-side compaction at harness scale: the band-key
    // frames are session-wide after the sketch spread, and a bucketed
    // write fans out partitions x buckets files — see
    // Rebalance.writeCompactIfNarrow
    val docsProbe = table(spark, sfDir, "documents")
    graft.sources.Bucketed.writeBucketed(spark,
      graft.Rebalance.writeCompactIfNarrow(
        storedBandKeys(spark, sfDir, "hist", mod, shingleN, k, bands), docsProbe),
      name, graft.sources.Bucketed.scopedPath(spark, name), "sig", nBuckets)
    graft.sources.Bucketed.appendBucketed(spark,
      graft.Rebalance.writeCompactIfNarrow(
        storedBandKeys(spark, sfDir, "new", mod, shingleN, k, bands), docsProbe),
      name, "sig", nBuckets)
    def perBand(sigs: DataFrame, as: String): DataFrame = sigs
      .select(split(col("sig"), "\\|").getItem(0).cast("long").as("band"))
      .groupBy("band").agg(count(lit(1)).as(as))
    val folded = perBand(spark.table(name), "n_folded")
    // the full-corpus rebuild side is NOT store-served: this audit is its
    // only consumer (≥2-consumer contract), and it reads the frame once —
    // it still derives from the shared materialized rep-shingle layer
    val rebuild = perBand(
      bandKeys(repShingleStore(spark, sfDir, shingleN)._2, k, bands, "md5"),
      "n_rebuild")
    folded.join(rebuild, Seq("band"))
      .withColumn("n_redundant", col("n_folded") - col("n_rebuild"))
      .orderBy("band")
  }

  /** dedup_index_compact: the maintenance step the refresh audit prices
    * out — periodically rewrite the folded index keeping only GLOBAL
    * exact-content representatives, reclaiming the cross-split
    * redundancy daily fold-ins accumulate. The compacted row set equals
    * a from-scratch rebuild EXACTLY (the global rep of each content is
    * one of the per-side reps and identical content sketches
    * identically), but compaction computes it with a semi-join of the
    * STORED index against the (small) global rep-id set — no re-shingle,
    * no re-sketch of anything. Output: (band, n_folded, n_compacted),
    * where n_compacted must equal the rebuild count the oracle derives
    * independently.
    */
  def indexCompactAudit(spark: SparkSession, sfDir: String,
                        mod: Int = 10, shingleN: Int = 3, k: Int = 16,
                        bands: Int = defaultLshBands, nBuckets: Int = 8): DataFrame = {
    val name = graft.sources.Bucketed.scopedName(spark, "graft_minhash_index_compact")
    // write-side compaction at harness scale — see indexRefreshAudit
    val docsProbe = table(spark, sfDir, "documents")
    graft.sources.Bucketed.writeBucketed(spark,
      graft.Rebalance.writeCompactIfNarrow(
        storedBandKeys(spark, sfDir, "hist", mod, shingleN, k, bands), docsProbe),
      name, graft.sources.Bucketed.scopedPath(spark, name), "sig", nBuckets)
    graft.sources.Bucketed.appendBucketed(spark,
      graft.Rebalance.writeCompactIfNarrow(
        storedBandKeys(spark, sfDir, "new", mod, shingleN, k, bands), docsProbe),
      name, "sig", nBuckets)
    val folded = spark.table(name)
    // the global rep-id set: |distinct contents| ids — tiny next to the
    // index, and derivable from the exact rung's map without any sketch
    val globalReps = repShingleStore(spark, sfDir, shingleN)._1
      .filter(col("doc_id") === col("rep_id")).select("doc_id")
    val compacted = folded.join(globalReps, Seq("doc_id"), "left_semi")
    val outName =
      graft.sources.Bucketed.scopedName(spark, "graft_minhash_index_compacted")
    graft.sources.Bucketed.writeBucketed(spark,
      graft.Rebalance.writeCompactIfNarrow(compacted, docsProbe),
      outName, graft.sources.Bucketed.scopedPath(spark, outName), "sig", nBuckets)
    def perBand(sigs: DataFrame, as: String): DataFrame = sigs
      .select(split(col("sig"), "\\|").getItem(0).cast("long").as("band"))
      .groupBy("band").agg(count(lit(1)).as(as))
    perBand(folded, "n_folded")
      .join(perBand(spark.table(outName), "n_compacted"),
        Seq("band"))
      .orderBy("band")
  }

  /** 3. SimHash (32-bit): per bit j, sum +-1 weighted by shingle-hash bit
    * j over the doc's shingles; simhash bit j = (weight > 0). Computed in
    * ONE aggregation by SimHashSketchAgg (a TypedImperativeAggregate over
    * the 32 weight sums) instead of the explode-by-32 + double-groupBy
    * formulation; the hash is the same md5-derived h32, so the DuckDB
    * oracle (which spells the bit math as BIGINT arithmetic) reproduces
    * every sketch exactly — DedupSpec pins an equivalence case.
    */
  def simHashes(docs: DataFrame, shingleN: Int = 3): DataFrame =
    shingles(docs, shingleN)
      .groupBy("doc_id")
      .agg(graft.functions.SimHashSketch.sketch(col("shingle")).as("simhash"))

  /** SimHash near-dup pairs at hamming distance <= maxHamming via
    * pigeonhole chunk bucketing (no cross join). Runs over exact-content
    * representatives — see `representatives` for why.
    */
  def simHashPairs(spark: SparkSession, sfDir: String,
                   shingleN: Int = 3, maxHamming: Int = 3): DataFrame =
    simHashPairsFromShingles(
      repShingleStore(spark, sfDir, shingleN)._2, maxHamming)

  /** simHashPairs over a pre-computed (doc_id, shingle) frame — shares
    * the corpus scan in composed queries (see minHashLshFromShingles).
    */
  def simHashPairsFromShingles(sh: DataFrame, maxHamming: Int = 3): DataFrame = {
    // materialized once: the chunk self-join below would otherwise
    // recompute the whole shingle->sketch pipeline for each side
    val hs = sh.groupBy("doc_id")
      .agg(graft.functions.SimHashSketch.sketch(col("shingle")).as("simhash"))
      .materialized
    val nChunks = maxHamming + 1
    val chunkBits = 32 / nChunks // 8 bits per chunk for d=3
    val chunked = hs.withColumn("c", explode(array((0 until nChunks).map(lit(_)): _*)))
      .withColumn("chunk",
        (col("simhash") / pow(lit(2), col("c") * chunkBits).cast("long")).cast("long")
          % (1L << chunkBits))
    val a = chunked.as("a")
    val b = chunked.as("b")
    a.join(b, col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** 4. Exact n-gram Jaccard: candidates = pairs sharing at least one
    * rare shingle (df <= maxDf — the stop-shingle guard), verified with
    * exact |A ∩ B| / |A ∪ B| over the FULL shingle sets. Emits pairs with
    * jaccard >= minJaccard; the score is surfaced in exact thousandths
    * (integer) to stay float-drift-free.
    *
    * Three-stage shape, each stage strictly cheaper than the naive plan:
    *   1. candidate generation + RARE-intersection count fused into ONE
    *      aggregation over the rare-shingle self-join (no distinct pass,
    *      no re-join);
    *   2. upper-bound prune: the true intersection can exceed the rare
    *      intersection only by hot shingles BOTH docs contain, so
    *      inter <= inter_rare + min(hot_a, hot_b). Pairs whose bound
    *      can't reach the threshold are dropped BEFORE the expensive
    *      exact pass — at sf0.1 this is ~1.1M pairs -> ~300;
    *   3. exact verification, scoped to surviving pairs only: join the
    *      survivors to each side's full shingle set and count matches.
    * The output is exactly "pairs sharing a rare shingle with exact
    * jaccard >= threshold" — stages 1-2 never drop a qualifying pair
    * (the bound dominates the true score), stage 3 computes the exact
    * score the oracle computes.
    */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String,
                        shingleN: Int = 3, maxDf: Int = 50,
                        minJaccardMilli: Long = 300): DataFrame =
    // over exact-content REPRESENTATIVES like the other fuzzy rungs (the
    // composed pipelines already share a rep shingle frame): m copies of
    // a doc would otherwise meet in every rare shingle and pair m^2 —
    // the same quadratic the 10x dup-replica scale bench surfaced for
    // the embedding rung. The resolved pair frame is a pure function of
    // (corpus, n, df guard, threshold), so it is stored for the run:
    // the standalone rung, the fuzzy split audit and the pair graph
    // share ONE candidate/prune/exact build.
    jaccardPairStores.getOrBuild(spark, sfDir, Seq("documents"),
        shingleN, maxDf, minJaccardMilli) {
      ngramJaccardPairsFromShingles(
        repShingleStore(spark, sfDir, shingleN)._2,
        maxDf, minJaccardMilli).materialized
    }

  private val jaccardPairStores =
    graft.ArtifactStore.frames("dedup.jaccardPairs")

  /** ngramJaccardPairs over a pre-computed, ALREADY-MATERIALIZED
    * (doc_id, shingle) frame (pass a checkpointed frame: it is
    * referenced by five sub-plans here).
    */
  def ngramJaccardPairsFromShingles(sh: DataFrame, maxDf: Int = 50,
                                    minJaccardMilli: Long = 300): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df")).materialized
    val rare = sh.join(dfreq.filter(col("df") <= maxDf), Seq("shingle"))
      .select("doc_id", "shingle").materialized
    // stage 1: candidate pairs + rare-intersection size in one aggregation
    val interRare = rare.as("a").join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter_rare"))
    // per-doc totals: full shingle-set size + count of HOT shingles
    // (df > maxDf) — the slice candidate generation never sees
    val stats = sh.join(dfreq, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("sz"),
        sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("n_hot"))
      .materialized
    val sa = stats.select(col("doc_id").as("doc_a"),
      col("sz").as("sz_a"), col("n_hot").as("hot_a"))
    val sb = stats.select(col("doc_id").as("doc_b"),
      col("sz").as("sz_b"), col("n_hot").as("hot_b"))
    // stage 2: prune by the jaccard upper bound (monotone in inter, so
    // inter_ub >= inter implies bound >= true score; integer compare —
    // floor(x*1000/u) >= m  <=>  x*1000 >= m*u for integer m)
    val surv = interRare.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("inter_ub", col("inter_rare") + least(col("hot_a"), col("hot_b")))
      .filter(col("inter_ub") * 1000 >=
        lit(minJaccardMilli) * (col("sz_a") + col("sz_b") - col("inter_ub")))
      .select("doc_a", "doc_b", "sz_a", "sz_b")
      .materialized
    // stage 3: exact intersection over the FULL shingle sets, survivors only
    val shA = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = surv.select("doc_a", "doc_b")
      .join(shA, Seq("doc_a")).join(shB, Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    surv.join(inter, Seq("doc_a", "doc_b"))
      .withColumn("jaccard_milli",
        (col("inter") * 1000 / (col("sz_a") + col("sz_b") - col("inter"))).cast("long"))
      .filter(col("jaccard_milli") >= minJaccardMilli)
      .select("doc_a", "doc_b", "jaccard_milli")
      .orderBy("doc_a", "doc_b")
  }

  /** split_leakage_fuzzy: NEAR-dup contamination across the train/val/
    * test split — the fuzzy complement of TextAnalysis.splitLeakage,
    * which only sees EXACT content shared across splits: a lightly
    * edited eval document (near-dup, not identical) inflates eval
    * numbers just the same, and row-level split tooling cannot see it.
    * Pairs come from the jaccard rung (over exact-content
    * representatives — identical copies are the exact rung's domain);
    * each side is then labeled with the split memberships of ALL copies
    * of its content (a rep in train whose copy sits in val carries
    * 'train+val'), so collapse never hides a cross-split copy. A pair
    * leaks (`cross_split` = 1) iff some copy of content A and some copy
    * of content B live in different splits.
    *
    * Scale shape: the jaccard ladder's bounded candidate/prune/exact
    * chain unchanged, plus one membership aggregation keyed on rep_id
    * (three conditional max flags ride one pass) hash-joined to the
    * surviving pairs — pair volume, not corpus volume.
    *
    * Output: (doc_a, doc_b, jaccard_milli, splits_a, splits_b,
    * cross_split), a < b by id, ordered.
    */
  def fuzzySplitLeakage(spark: SparkSession, sfDir: String,
                        shingleN: Int = 3, maxDf: Int = 50,
                        minJaccardMilli: Long = 300): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val pairs = ngramJaccardPairs(spark, sfDir, shingleN, maxDf, minJaccardMilli)
    val bucket = h60(col("doc_id").cast("string")) % 100
    val split = when(bucket <= 97, "train").when(bucket === 98, "val")
      .otherwise("test")
    val memb = exactDupMap(docs).select(col("rep_id"), split.as("split"))
      .groupBy("rep_id")
      .agg(max(when(col("split") === "train", 1L).otherwise(0L)).as("in_train"),
        max(when(col("split") === "val", 1L).otherwise(0L)).as("in_val"),
        max(when(col("split") === "test", 1L).otherwise(0L)).as("in_test"))
      .withColumn("splits", concat_ws("+",
        when(col("in_train") === 1, "train"),
        when(col("in_val") === 1, "val"),
        when(col("in_test") === 1, "test")))
    val ma = memb.select(col("rep_id").as("doc_a"), col("splits").as("splits_a"),
      col("in_train").as("tr_a"), col("in_val").as("va_a"), col("in_test").as("te_a"))
    val mb = memb.select(col("rep_id").as("doc_b"), col("splits").as("splits_b"),
      col("in_train").as("tr_b"), col("in_val").as("va_b"), col("in_test").as("te_b"))
    pairs.join(ma, Seq("doc_a")).join(mb, Seq("doc_b"))
      .withColumn("cross_split", when(
        col("tr_a") * (col("va_b") + col("te_b"))
          + col("va_a") * (col("tr_b") + col("te_b"))
          + col("te_a") * (col("tr_b") + col("va_b")) > 0, 1L).otherwise(0L))
      .select("doc_a", "doc_b", "jaccard_milli", "splits_a", "splits_b",
        "cross_split")
      .orderBy("doc_a", "doc_b")
  }

  /** dedup_containment: directed n-gram CONTAINMENT pairs — score =
    * |inter| / min(|A|, |B|), i.e. how much of the SMALLER shingle set
    * lives inside the larger. Catches nested duplication (a quoted or
    * embedded document, boilerplate wrapping) where symmetric Jaccard
    * stays low because the big doc's size dominates the union — the
    * asymmetric rung the Jaccard ladder can't see. Same 3-stage
    * candidate/prune/exact plan as the jaccard rung over exact-content
    * representatives; the prune bound swaps in the containment
    * denominator (still monotone in the intersection, so it never
    * drops a qualifying pair).
    *
    * Output: (doc_a, doc_b, cont_milli), a < b by id.
    */
  def ngramContainmentPairs(spark: SparkSession, sfDir: String,
                            shingleN: Int = 3, maxDf: Int = 50,
                            minContMilli: Long = 500): DataFrame =
    // NOT run-lifetime-stored: dedup_containment is this frame's only
    // registered consumer, and the ≥2-consumer contract
    // (StoreContractSpec) forbids caching single-consumer results — it
    // still shares the paid-once rep/shingle layer below it
    ngramContainmentFromShingles(
      repShingleStore(spark, sfDir, shingleN)._2,
      maxDf, minContMilli)

  /** Containment over a pre-computed, ALREADY-MATERIALIZED (doc_id,
    * shingle) frame — see [[ngramJaccardPairsFromShingles]] for the
    * staging rationale (this mirrors it with the containment bound).
    */
  def ngramContainmentFromShingles(sh: DataFrame, maxDf: Int = 50,
                                   minContMilli: Long = 500): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df")).materialized
    val rare = sh.join(dfreq.filter(col("df") <= maxDf), Seq("shingle"))
      .select("doc_id", "shingle").materialized
    val interRare = rare.as("a").join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter_rare"))
    val stats = sh.join(dfreq, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("sz"),
        sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("n_hot"))
      .materialized
    val sa = stats.select(col("doc_id").as("doc_a"),
      col("sz").as("sz_a"), col("n_hot").as("hot_a"))
    val sb = stats.select(col("doc_id").as("doc_b"),
      col("sz").as("sz_b"), col("n_hot").as("hot_b"))
    // prune on the containment upper bound: inter <= inter_ub, so
    // inter_ub * 1000 >= minCont * min(sz) is implied by any true hit
    val surv = interRare.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("inter_ub", col("inter_rare") + least(col("hot_a"), col("hot_b")))
      .filter(col("inter_ub") * 1000 >=
        lit(minContMilli) * least(col("sz_a"), col("sz_b")))
      .select("doc_a", "doc_b", "sz_a", "sz_b")
      .materialized
    val shA = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = surv.select("doc_a", "doc_b")
      .join(shA, Seq("doc_a")).join(shB, Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    surv.join(inter, Seq("doc_a", "doc_b"))
      .withColumn("cont_milli",
        (col("inter") * 1000 / least(col("sz_a"), col("sz_b"))).cast("long"))
      .filter(col("cont_milli") >= minContMilli)
      .select("doc_a", "doc_b", "cont_milli")
      .orderBy("doc_a", "doc_b")
  }

  /** Winnowing document fingerprints (the MOSS scheme: Schleimer,
    * Wilkerson, Aiken — "Winnowing: Local Algorithms for Document
    * Fingerprinting"): hash every k-char gram of the normalized text,
    * slide a w-wide window over the gram-hash sequence, keep each
    * window's minimum, emit the distinct minima. Guarantees every match
    * of length >= k+w-1 shares a fingerprint, while storing only
    * ~2/(w+1) of the gram hashes.
    *
    * All narrow per-row array math (no shuffle until the final distinct)
    * — the fingerprint table is what a 100 TB plagiarism/near-dup index
    * would be built on (group by fp -> posting lists).
    *
    * Output: (doc_id, fp) distinct, ordered. Docs shorter than k+w-1
    * normalized chars emit nothing (no full window exists).
    */
  def winnowFingerprints(spark: SparkSession, sfDir: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    // gram hashing + window minima in one native expression
    // (WinnowFpsExpr): h60 per k-code-point gram, min per w-window —
    // the HOF formulation it replaces paid substr+md5-hex+conv
    // interpretation per gram. The gram hashing is an md5 per k-gram:
    // spread it when the scan plans narrow (the fused scan stage ran
    // ~0.9 s single-task at sf0.1)
    docsSpread(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.functions.ShingleColumns.winnowFps(norm, k, w)).as("fp"))
      .distinct()
      .orderBy("doc_id", "fp")
  }

  /** The documents scan, spread when it plans narrow, for an md5 or
    * window stage fused into the scan (WindowDense). */
  private def docsSpread(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    graft.Rebalance.spreadIfNarrow(docs, docs, graft.Rebalance.WindowDense,
      col("doc_id"))
  }

  /** dedup_ngram_sweep: the window-size curve for substring dedup —
    * the calibration behind the report/rewrite rungs' n choice: a
    * small n over-flags (every common phrase counts as duplication), a
    * large n under-flags (only long verbatim mirrors survive), and the
    * knee of the measured curve is where a corpus build sets the dial
    * (Lee et al. use 50 BPE tokens on real crawls; this synthetic
    * corpus knees much lower). For each n: total window occurrences,
    * occurrences of windows appearing in >= 2 docs, and the permille —
    * all derivable from the per-window distinct-doc counts alone, no
    * join-back.
    *
    * Scale shape: one shingle pass per n (constant fanout each), each
    * into hashed distinct + a map-side-combinable count and a 1-row
    * rollup; the 4 rows union.
    *
    * Output: (n, n_windows, n_dup_windows, dup_permille), ordered by n.
    */
  def ngramSweep(spark: SparkSession, sfDir: String,
                 ns: Seq[Int] = Seq(2, 4, 8, 16)): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val perN = ns.map { n =>
      docs.select(col("doc_id"),
          explode(graft.functions.ShingleColumns.wordShingles(col("text"), n)).as("shingle"))
        .select(col("doc_id"), h60(col("shingle")).as("w"))
        .distinct()
        .groupBy("w").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("c")).cast("long").as("n_windows"),
          sum(when(col("c") >= 2L, col("c")).otherwise(0L)).cast("long")
            .as("n_dup_windows"))
        .select(lit(n.toLong).as("n"), col("n_windows"), col("n_dup_windows"))
    }.reduce(_.unionAll(_))
    perN
      .withColumn("dup_permille", expr("(1000 * n_dup_windows) div n_windows"))
      .orderBy("n")
  }

  /** dedup_winnow_pairs: MOSS-style matching over the winnowing
    * fingerprints — the rung that actually CONSUMES what
    * `winnowFingerprints` stores: docs sharing >= minShared selected
    * fingerprints are near-dup candidates with LOCAL evidence (every
    * shared fingerprint certifies a shared substring of >= k chars;
    * the scheme guarantees any match of length >= k+w-1 is caught).
    * This complements the shingle rungs: MinHash estimates GLOBAL
    * set overlap, winnowing pinpoints shared spans at ~2/(w+1) the
    * storage of full gram indexing.
    *
    * Scale shape: the standard posting-list discipline — fingerprints
    * over exact-content representatives, hot fingerprints (document
    * frequency > maxDf) dropped from pairing exactly like the
    * stop-shingle guard (a boilerplate span shared by thousands of
    * docs generates no candidate pairs), pairs only materialize
    * inside a fingerprint's bounded posting list. One fp-keyed
    * self-join, one pair aggregate.
    *
    * Output: (doc_a, doc_b, n_shared_fps) with doc_a < doc_b and
    * n_shared_fps >= minShared, ordered.
    */
  def winnowPairs(spark: SparkSession, sfDir: String,
                  k: Int = 8, w: Int = 4, minShared: Long = 8,
                  maxDf: Int = 50): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    // representatives' aggregate output AQE-coalesces to one tiny read
    // at harness scale, which would serialize the per-gram md5 hashing
    // below — spread it back first (gated on the corpus scan, so a
    // corpus that already fills the session adds no exchange)
    val docs = table(spark, sfDir, "documents")
    val fps = graft.Rebalance.spreadIfNarrow(
        representatives(docs), docs, graft.Rebalance.WindowDense, col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.ShingleColumns.winnowFps(norm, k, w)).as("fp"))
      .distinct()
      .materialized // both self-join sides + the df guard
    // ONE explicit fp-keyed exchange feeds the df guard, the semi-join
    // and the pair self-join co-partitioned: each used to
    // plan its own exchange, and AQE coalesced the pair join — the
    // suite's heaviest winnow stage — down to ~6 read partitions (2.3
    // CPU-s squeezed through 6 tasks). The checkpoint below this
    // preserves outputPartitioning (the CC-loop pattern), so the
    // downstream agg/join stages plan exchange-free at pinned width.
    // probe = the corpus scan: fps is checkpointed, so its own stats
    // are the RDD-leaf sentinel, not a mass (WindowDense — the pair
    // join is a per-byte fold, measured −35% at the narrower width)
    val fpsW = graft.Rebalance.spread(fps, docs, graft.Rebalance.WindowDense,
      col("fp"))
    val rare = fpsW.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("fp")
    val pruned = fpsW.join(rare, Seq("fp"), "left_semi")
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** text_winnow_audit: winnowing density measured against theory —
    * Schleimer et al. prove a w-window scheme stores an expected
    * 2/(w+1) of the gram hashes (random hashes) while guaranteeing
    * every match of length >= k+w-1 shares a fingerprint. This sweep
    * measures the realized density for several w over the SAME grams,
    * which is how an index build picks w: density is storage cost,
    * k+w-1 is the shortest match still guaranteed — and a measured
    * density well BELOW the expectation flags repetitive text (runs of
    * equal grams collapse to one fingerprint), making the audit a
    * corpus-health signal too.
    *
    * Scale shape: one narrow pass per w (the native winnowFps
    * expression, per-row array math, no shuffle before the 4-group
    * rollup); n_fps counts DISTINCT minima per doc in-row via
    * array_distinct. Output: (w, n_docs, n_grams, n_fps,
    * density_milli, expected_milli = 2000 div (w+1)), ordered by w.
    */
  def winnowDensityAudit(spark: SparkSession, sfDir: String,
                         k: Int = 8,
                         ws: Seq[Int] = Seq(2, 4, 8, 16)): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    val base = table(spark, sfDir, "documents")
      .select(col("doc_id"), norm.as("norm"))
      .withColumn("n_grams", (length(col("norm")) - lit(k - 1)).cast("long"))
    val perW = ws.map { w =>
      base.filter(length(col("norm")) >= k + w - 1)
        .select(lit(w.toLong).as("w"), col("n_grams"),
          size(array_distinct(
            graft.functions.ShingleColumns.winnowFps(col("norm"), k, w)))
            .cast("long").as("n_fps"))
    }.reduce(_.unionAll(_))
    perW.groupBy("w")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).cast("long").as("n_grams"),
        sum(col("n_fps")).cast("long").as("n_fps"))
      .withColumn("density_milli", expr("(1000 * n_fps) div n_grams"))
      .withColumn("expected_milli", expr("2000 div (w + 1)"))
      .orderBy("w")
  }

  /** End-to-end corpus cleaning — the composition an LLM data pipeline
    * actually runs over raw documents:
    *   1. quality gate (TextAnalysis.qualityScore's keep rule),
    *   2. exact dedup over the survivors (normalized-content md5,
    *      keep the smallest surviving doc_id per key).
    * Output: the cleaned corpus as (doc_id, content_key), ordered.
    * Both stages are narrow + one shuffle on the content key — at
    * 100 TB the quality filter prunes before any shuffle happens.
    */
  def cleanCorpus(spark: SparkSession, sfDir: String): DataFrame =
    // run-lifetime store: the quality-gated exact-survivor
    // table is the ladder's shared middle layer — pipeline_clean,
    // pipeline_fuzzy, pipeline_fuzzy_best and pipeline_e2e all consume
    // it (≥2-consumer contract, StoreContractSpec), and each used to
    // re-run the scan + md5 + group per call. First caller pays the
    // build; the orderBy is applied per call outside the store.
    cleanCorpusStores.getOrBuild(spark, sfDir, Seq("documents")) {
      val quality = TextAnalysis.qualityScore(spark, sfDir)
        .filter(col("quality_keep")).select("doc_id")
      val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
      table(spark, sfDir, "documents")
        .join(quality, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), md5(norm).as("content_key"))
        .groupBy("content_key")
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("content_key"))
        .materialized
    }.orderBy("doc_id")

  private val cleanCorpusStores =
    graft.ArtifactStore.frames("dedup.cleanCorpus")

  /** Convergence-sum aggregate for [[connectedComponents]]: the cast
    * sits INSIDE the sum so the ACCUMULATOR is DECIMAL(38,0) — a
    * LongType accumulator (cast applied to the result only) wraps
    * silently past 2^63 in non-ANSI mode, and a wrap-aliased equal sum
    * would falsely signal convergence. Package-visible so DedupSpec can
    * pin both the output type and the no-wrap behavior. */
  private[graft] def labelSumCol: Column =
    sum(col("label").cast("decimal(38,0)"))

  /** Connected components over an undirected pair graph via iterative
    * min-label propagation: every node starts labeled with its own id;
    * each round replaces a node's label by the min of its own and its
    * neighbors' labels; at fixpoint, label = the component's minimum id.
    *
    * This is the MapReduce-classic CC — each round is one equi-join of
    * the (static, checkpointed) edge list with the current label table
    * plus a min-aggregation, i.e. two shuffles on node ids, and the
    * round count is the graph diameter. Near-dup graphs are unions of
    * small dense clusters (diameter ~ a few hops), so convergence is
    * fast; `maxIters` bounds the loop defensively. The driver-side loop
    * carries only the label sum — no data ever collects.
    *
    * Convergence via the LABEL-SUM invariant, not a join back to the
    * previous round: labels are non-increasing per node (the self-loop
    * folds "own label" into the min), so the total sum strictly
    * decreases iff ANY label changed. The sum ([[labelSumCol]]) is read
    * by [[graft.Fixpoint]] in the job that cuts each round.
    *
    * Input: (doc_a, doc_b) pairs. Output: (doc_id, cluster_id) for every
    * node that appears in some pair, cluster_id = min id of its component.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
      graft.Fixpoint("connectedComponents") { loop =>
    // Partition count sized to EDGE VOLUME, not core count
    // (Rebalance.edgeWidth): a round on a small graph is pure
    // per-partition scheduling overhead at the session width. pairs is
    // already materialized by every caller, so the count is a cheap
    // local scan.
    val parts = graft.Rebalance.edgeWidth(pairs.sparkSession, pairs.count() * 2)
    // `parts` is threaded through the EDGE relation's explicit
    // repartition only — never spark.conf.set, which is session-global
    // and would leak the reduced width into any query running
    // concurrently on the same session (ConcurrencySpec pins the
    // isolation). The per-round join co-partitions the label
    // side to the edge side's width automatically (a side that already
    // satisfies the join's distribution sets the exchange width for the
    // other), and the remaining aggregation exchanges run at the session
    // width with AQE coalescing the tiny reads.
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // SELF-LOOPS fold "keep your own label" into the neighbor-min
    // aggregation, so each round references the label table exactly ONCE
    // (one join + one min-agg) and lineage stays linear in rounds.
    val edges = loop.cut(sym
      .union(sym.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
      // hash-partitioned on the per-round join key BEFORE the cut: the
      // checkpointed relation keeps that outputPartitioning, so the
      // (big, static) edge side is exchanged ONCE total instead of once
      // per propagation round — only the (small) label table moves
      .repartition(parts, col("dst")))
    val init = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    loop.iterate(init, maxIters, Some(graft.Fixpoint.Until(labelSumCol))) { (labels, _) =>
      // self-loops make the min cover the node's own label, and give
      // every node a matching edge row — no left join needed
      edges
        .join(labels.select(col("doc_id").as("dst"), col("label").as("dst_label")),
          Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("dst_label")).as("label"))
    }.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * contractions (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — the
    * Two-Phase algorithm): the O(log n)-ROUND alternative to
    * [[connectedComponents]]' min-label propagation. Propagation pays
    * one round per unit of graph DIAMETER; a chain-like topology
    * (mirror-of-a-mirror-of-a-mirror duplication is exactly this) makes
    * the round count linear in chain length, each round a full shuffle.
    * The star contractions hook whole subtrees directly onto their
    * minimum in one step, so tree heights collapse geometrically and
    * round count is logarithmic in component size REGARDLESS of
    * diameter — the published worst-case fix for CC at cluster scale
    * (TwoStarSpec measures it: a 64-node chain converges in <= 8 star
    * rounds where propagation needs 63).
    *
    * Each star op is ONE bounded per-node min-aggregation plus ONE hash
    * join of that |nodes|-row min table back onto the edge list — the
    * neighbor list of a hot node is never collected; the only per-node
    * state crossing a shuffle is its current min.
    *
    *   large-star(u): m = min(N(u) ∪ {u}); re-attach every STRICTLY
    *     LARGER neighbor v > u to m (computed over the symmetric view);
    *   small-star(u): on the canonical large→small orientation,
    *     m = min of u's smaller neighbors; attach each of them and u
    *     itself to m.
    *
    * Unlike connectedComponents the edge set itself evolves (no static
    * checkpointed side), and the large-star output is referenced twice
    * (min aggregation + join back), so it is cut within its round.
    *
    * Convergence is EXACT successive-round set equality (equal counts +
    * empty left-anti on the canonical, distinct sets) — star rounds do
    * not shrink per-node labels monotonically, so the labelSum scalar
    * invariant does not apply. The count is read in the job that cuts
    * the round; the left-anti job runs only when the counts are equal. At the fixed point each component is a
    * single star centered at its minimum id (paper, Thm 1-3), so the
    * final label table is one min-aggregation over the star edges.
    *
    * Input/output contract identical to [[connectedComponents]]:
    * (doc_a, doc_b) pairs in, (doc_id, cluster_id = component min) out
    * for every node appearing in some pair. TwoStarSpec pins equality
    * with the propagation form on chain, star, two-component and
    * self-loop graphs; `dedup_clusters_twostar` shares
    * `dedup_clusters`' recursive-CTE oracle.
    */
  def connectedComponentsTwoStar(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    twoStarWithRounds(pairs, maxIters)._1

  /** [[connectedComponentsTwoStar]] plus the round count it took —
    * package-visible so TwoStarSpec can pin the logarithmic-round claim
    * on a high-diameter graph. */
  private[graft] def twoStarWithRounds(pairs: DataFrame,
                                       maxIters: Int = 50): (DataFrame, Int) =
      graft.Fixpoint("connectedComponentsTwoStar") { loop =>
    // edge-volume-sized width via explicit repartition only (the
    // connectedComponents ConcurrencySpec contract — never conf.set)
    val parts = graft.Rebalance.edgeWidth(pairs.sparkSession, pairs.count() * 2)
    // every input node, for singleton/root labeling at the end
    val nodes = loop.cut(pairs.select(col("doc_a").as("n"))
      .union(pairs.select(col("doc_b").as("n")))
      .distinct())
    // canonical (hi > lo) distinct start set; input self-pairs drop
    // (their nodes stay in `nodes` and label themselves)
    val init = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .repartition(parts, col("hi"))
    val sameEdges = graft.Fixpoint.Until(count(lit(1)),
      (cur, next) => next.join(cur, Seq("hi", "lo"), "left_anti").isEmpty)
    val stars = loop.iterate(init, maxIters, Some(sameEdges)) { (cur, round) =>
      // LARGE-STAR over the symmetric view
      val sym = cur.select(col("hi").as("u"), col("lo").as("v"))
        .union(cur.select(col("lo").as("u"), col("hi").as("v")))
      val lmins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val ls = round.cut(sym.join(lmins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct())
      // SMALL-STAR on the canonical orientation: all of hi's neighbors
      // here are < hi, so m = min(lo) needs no least() with hi
      val smins = ls.groupBy("hi").agg(min(col("lo")).as("m"))
      ls.join(smins, Seq("hi"))
        .select(col("lo").as("a"), col("m").as("b"))
        .union(smins.select(col("hi").as("a"), col("m").as("b")))
        .select(greatest(col("a"), col("b")).as("hi"),
          least(col("a"), col("b")).as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
    }
    // star fixed point: every canonical edge points member -> root
    val lab = stars.groupBy(col("hi").as("mem")).agg(min(col("lo")).as("root"))
    val out = nodes.join(lab, nodes("n") === lab("mem"), "left")
      .select(col("n").as("doc_id"),
        coalesce(col("root"), col("n")).as("cluster_id"))
      .orderBy("doc_id")
    (loop.cut(out), loop.rounds)
  }

  /** Run-lifetime artifact stores for the fuzzy-dedup machinery — the
    * bm25Store / bpeTrainMerges pattern applied to the near-dup graph:
    * a production corpus build resolves its duplication graph ONCE per
    * snapshot and every downstream consumer (cluster sizes, soft
    * weights, quality lift, survivor selection, the cleaning ladder)
    * reads the materialized artifact instead of re-deriving shingles,
    * rungs and components per query. Two artifacts:
    *
    *  - fuzzyGraphStore: the (exact-dup map, near-dup PAIR set) — one
    *    corpus scan + shingle pass feeds all three rungs (composed
    *    naively that would be 3 scans), shared by BOTH component
    *    algorithms (propagation and the two-star contraction keep
    *    resolving independently — they share edges, not answers, so
    *    the shared-oracle cross-check still compares two resolutions).
    *  - clusterStores (under [[nearDupClusters]]): the resolved
    *    (doc_id, cluster_id) table.
    *
    * Holding the handles pins their checkpoint blocks for the session —
    * bounded: one pair set + one cluster table per corpus, both far
    * smaller than the corpus itself.
    */
  /** The stored duplication-graph artifacts: the exact-dup map, the
    * representatives' shingle frame, each rung's pair set, and their
    * distinct union — every field already checkpointed.
    */
  private[graft] case class FuzzyGraph(dupMap: DataFrame, sh: DataFrame,
                                       mh: DataFrame, sim: DataFrame,
                                       jac: DataFrame, pairs: DataFrame)

  /** The (exact-dup map, representatives' shingle frame) layer below
    * the pair graph — stored separately so a STANDALONE rung query
    * (minhash/simhash/jaccard/containment, the calibration and banding
    * sweeps) reuses the corpus scan + shingle pass without triggering
    * the other rungs' sketch builds.
    */
  private val repShingleStores =
    graft.ArtifactStore.framePairs("dedup.repShingles")
  private[graft] def repShingleStore(spark: SparkSession, sfDir: String,
                                     shingleN: Int = 3): (DataFrame, DataFrame) =
    repShingleStores.getOrBuild(spark, sfDir, Seq("documents"), shingleN) {
      val docs = table(spark, sfDir, "documents")
      // narrow (doc_id, rep_id, n_copies) map: feeds the rep filter
      // now and the membership expansion after clustering
      val dupMap = exactDupMap(docs).materialized
      val repDocs = docs.join(
        dupMap.filter(col("doc_id") === col("rep_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val sh = shingles(repDocs, shingleN).materialized
      (dupMap, sh)
    }

  private val fuzzyGraphStores =
    new graft.ArtifactStore[FuzzyGraph]("dedup.fuzzyGraph")(g =>
      Seq(g.dupMap, g.sh, g.mh, g.sim, g.jac, g.pairs)
        .foreach(graft.Materialize.release))
  private[graft] def fuzzyGraphStore(spark: SparkSession,
                                     sfDir: String): FuzzyGraph =
    fuzzyGraphStores.getOrBuild(spark, sfDir, Seq("documents")) {
      val (dupMap, sh) = repShingleStore(spark, sfDir)
      val mh = minHashLshFromShingles(sh).select("doc_a", "doc_b").materialized
      val sim = simHashPairsFromShingles(sh).select("doc_a", "doc_b").materialized
      // the jaccard rung serves from its own param-keyed store (one
      // candidate/prune/exact build shared with the standalone rung
      // and the fuzzy split audit); projecting the checkpointed
      // frame is free, no second checkpoint needed
      val jac = ngramJaccardPairs(spark, sfDir).select("doc_a", "doc_b")
      val pairs = mh.union(sim).union(jac).distinct().materialized
      FuzzyGraph(dupMap, sh, mh, sim, jac, pairs)
    }

  private val clusterStores = graft.ArtifactStore.frames("dedup.clusters")

  /** Fuzzy-dedup cluster resolution: the three fuzzy rungs emit PAIRS;
    * this resolves them into components so a pipeline can make the
    * keep/drop decision. Edges = union of minhash-LSH, simhash and
    * n-gram-Jaccard near-dup pairs over exact-content REPRESENTATIVES;
    * components via min-label propagation; membership then EXPANDS back
    * through the exact-dup map — every copy of a representative joins
    * its rep's component, and an exact-dup group whose rep has no fuzzy
    * neighbor is a component of its own (identical docs are trivially
    * near-dups). Canonical doc = the component's minimum doc_id, which
    * the expansion preserves: a rep is the minimum of its copy group, so
    * the min over reps in a component IS the min over all members.
    *
    * The collapse-then-expand shape is the identical-content hot-bucket
    * guard: candidate pair volume scales with distinct
    * content while the output still covers every copy, at the linear
    * cost of one (doc -> rep) join.
    *
    * Served from the run-lifetime artifact store ([[fuzzyGraphStore]]'s
    * doc): the first caller per corpus pays the build, every later
    * consumer reads the materialized (doc_id, cluster_id) table.
    *
    * Output: (doc_id, cluster_id) for every doc that is an exact copy of
    * another doc or whose content is fuzzy-paired, ordered by doc_id.
    */
  def nearDupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clusterStores.getOrBuild(spark, sfDir, Seq("documents")) {
      nearDupClustersVia(spark, sfDir, connectedComponents(_)).materialized
    }

  /** dedup_clusters_twostar: [[nearDupClusters]] with the component
    * resolution swapped for [[connectedComponentsTwoStar]] — same rungs,
    * same rep collapse/expansion, same output relation (the registered
    * query shares dedup_clusters' oracle, so the driver hash-compares
    * the two algorithms against the same recursive-CTE ground truth).
    * This is the resolution a 100 TB corpus build would actually run:
    * crawl duplication graphs contain long mirror chains, and the star
    * contraction's round count is independent of them.
    */
  def nearDupClustersTwoStar(spark: SparkSession, sfDir: String): DataFrame =
    nearDupClustersVia(spark, sfDir, connectedComponentsTwoStar(_))

  private def nearDupClustersVia(spark: SparkSession, sfDir: String,
                                 cc: DataFrame => DataFrame): DataFrame = {
    val g = fuzzyGraphStore(spark, sfDir)
    val (dupMap, pairs) = (g.dupMap, g.pairs)
    val repClusters = cc(pairs)
      .select(col("doc_id").as("rep_id"), col("cluster_id"))
    // expand: inherit the rep's cluster; dup groups (>= 2 copies) with an
    // unclustered rep become their own component keyed by the rep
    dupMap.join(repClusters, Seq("rep_id"), "left")
      .filter(col("cluster_id").isNotNull || col("n_copies") >= 2)
      .select(col("doc_id"), coalesce(col("cluster_id"), col("rep_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** dedup_cluster_sizes: the near-dup cluster-size distribution — the
    * crawl-health metric read FIRST on a new corpus snapshot: a healthy
    * crawl shows a long tail of small clusters; a template farm or SEO
    * mirror network shows mass concentrated in a few giant components.
    * The size histogram also prices the fuzzy rung the way
    * dedup_reclaim prices the exact ladder: docs_removed = docs in
    * clusters minus one survivor per cluster.
    *
    * Scale shape: nearDupClusters' full machinery (rep collapse, one
    * shingle pass, banded candidates, label propagation), then two
    * tiny aggregations — per-cluster sizes (shuffle keyed by cluster
    * id, map-side combinable) and the size histogram (|distinct sizes|
    * groups). Output: (cluster_size, n_clusters, n_docs,
    * docs_removed), ordered by cluster_size.
    */
  def clusterSizeDistribution(spark: SparkSession, sfDir: String): DataFrame =
    nearDupClusters(spark, sfDir)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - lit(1)) * col("n_clusters")).as("docs_removed"))
      .orderBy("cluster_size")

  /** dedup_clusters_incremental: fold a fresh batch's near-dup pairs
    * into STORED component labels without recomputing history — the
    * cluster-level completion of the dedup_incremental story: the band
    * index answers "which pairs touch the new batch"; this answers
    * "what do the clusters look like NOW", touching only components
    * the new edges reach. At 100 TB a daily batch's probe pairs are a
    * sliver of the graph, so re-running CC over everything to relabel
    * 0.1% of components is the cost this op deletes.
    *
    * Mechanics (and why it is EXACT): stored labels are component-min
    * ids over the history's pairs; new edges CONTRACT through them
    * (each endpoint replaced by its stored root, unlabeled endpoints
    * stay themselves), and components of the contracted graph merge
    * via [[connectedComponentsTwoStar]] — CC of a graph equals CC of
    * (contracted components + new edges), and min-label composition
    * holds because stored roots ARE their components' minima. Old
    * nodes re-root through the (root -> merged root) map; nodes the
    * history never labeled join directly. The ORACLE is the full
    * rebuild (transitive closure over ALL the rung's pairs), so the
    * driver's hash compare proves merged == rebuilt every run.
    *
    * History/batch split: reps with doc_id % 10 == 0 are "today's
    * batch" (the held-out-split discipline); the rung is MinHash-LSH —
    * the one the persisted band index serves. Output: (doc_id,
    * cluster_id) over every minhash-paired representative, ordered.
    */
  def incrementalClusters(spark: SparkSession, sfDir: String): DataFrame =
    // the minhash rung's pair set is the store-served artifact — the
    // band index's "which pairs touch the batch" answer costs no
    // re-shingle here
    incrementalClustersFromPairs(fuzzyGraphStore(spark, sfDir).mh, _ % 10 === 0)

  /** [[incrementalClusters]]' pair-level core — package-visible so
    * DedupSpec can pin the contraction mechanics on a toy graph
    * (bridging edge merges two stored components; untouched components
    * keep their labels). `isNew` marks the fresh batch's node ids.
    */
  private[graft] def incrementalClustersFromPairs(
      pairs: DataFrame, isNew: Column => Column): DataFrame =
      graft.Fixpoint("incrementalClusters") { loop =>
    val oldPairs = loop.cut(pairs.filter(!isNew(col("doc_a")) && !isNew(col("doc_b"))))
    // the store: labels the history batch job persisted (already flat)
    val stored = connectedComponentsTwoStar(oldPairs)
      .select(col("doc_id"), col("cluster_id").as("root"))
    // today's probe pairs (band-index reach: any pair touching the batch)
    val probe = pairs.filter(isNew(col("doc_a")) || isNew(col("doc_b")))
    val contracted = loop.cut(probe
      .join(stored.select(col("doc_id").as("doc_a"), col("root").as("ra")),
        Seq("doc_a"), "left")
      .join(stored.select(col("doc_id").as("doc_b"), col("root").as("rb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("doc_a"),
        coalesce(col("rb"), col("doc_b")).as("doc_b")))
    // merge ONLY the touched roots/new nodes
    val merged = connectedComponentsTwoStar(contracted)
    val reroot = merged.select(col("doc_id").as("root"),
      col("cluster_id").as("new_root"))
    val oldFinal = stored.join(reroot, Seq("root"), "left")
      .select(col("doc_id"),
        coalesce(col("new_root"), col("root")).as("cluster_id"))
    val freshFinal = merged.join(stored.select("doc_id"), Seq("doc_id"), "left_anti")
    oldFinal.unionByName(freshFinal).orderBy("doc_id")
  }

  /** dedup_rung_overlap: which fuzzy rung EARNS ITS COST — the Venn
    * decomposition of the near-dup pair graph by detecting rung
    * (MinHash-LSH / SimHash / n-gram Jaccard). A pair found by all
    * three is insurance; a Venn cell owned exclusively by one rung is
    * that rung's marginal recall, and a rung with an empty exclusive
    * cell is pure cost at this corpus's duplication profile — the
    * first table read before dropping or retuning a rung on a 100 TB
    * run (where each rung is a full banding pass).
    *
    * Scale shape: the shared rep-collapse + ONE shingle pass feeds all
    * three rungs (the nearDupClusters discipline), each rung's pairs
    * are representatives only, and the overlap rollup is
    * pairs-then-8-rows: union the tagged pair sets, max the tags per
    * pair, count per tag combination. Output: (in_minhash, in_simhash,
    * in_jaccard, n_pairs), ordered.
    */
  def rungOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val g = fuzzyGraphStore(spark, sfDir)
    def tagged(pairs: DataFrame, m: Int, s: Int, j: Int): DataFrame =
      pairs.select(col("doc_a"), col("doc_b"),
        lit(m).as("m"), lit(s).as("s"), lit(j).as("j"))
    tagged(g.mh, 1, 0, 0)
      .union(tagged(g.sim, 0, 1, 0))
      .union(tagged(g.jac, 0, 0, 1))
      .groupBy("doc_a", "doc_b")
      .agg(max(col("m")).as("m"), max(col("s")).as("s"), max(col("j")).as("j"))
      .groupBy((col("m") === 1).as("in_minhash"), (col("s") === 1).as("in_simhash"),
        (col("j") === 1).as("in_jaccard"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("in_minhash", "in_simhash", "in_jaccard")
  }

  /** dedup_quality_lift: does duplication CONCENTRATE in low-quality
    * documents? — the cross-family crawl-health audit read before
    * choosing pipeline order: if near-dup membership and Gopher-gate
    * failure co-occur far above independence (lift >> 1000 milli), the
    * cheap quality gate should run FIRST and the expensive fuzzy rung
    * only over survivors; at independence (~1000) order is a pure cost
    * decision. Per source: doc counts, dup-member counts, gate-failure
    * counts, their overlap, and the observed/expected co-occurrence
    * lift in millis — numerator in DECIMAL(38,0) (1000 x n_both x
    * n_docs wraps a BIGINT at crawl scale).
    *
    * Scale shape: the clusters machinery plus the gopher projection
    * (both already priced by their own queries), one doc_id-keyed join
    * each, one |sources|-bounded rollup. Output: (source, n_docs,
    * n_dup, n_lowq, n_both, lift_milli — NULL when either margin is
    * empty), ordered.
    */
  def qualityDupLift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents").select("doc_id", "source")
    val gate = TextAnalysis.gopherRules(spark, sfDir).select("doc_id", "keep")
    val dup = nearDupClusters(spark, sfDir)
      .select(col("doc_id")).withColumn("is_dup", lit(true))
    docs.join(gate, Seq("doc_id"))
      .join(dup, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_lowq"),
        sum(when(col("is_dup") && !col("keep"), 1L).otherwise(0L)).as("n_both"))
      .withColumn("lift_milli",
        when(col("n_dup") > 0L && col("n_lowq") > 0L,
          expr("(1000 * cast(n_both as decimal(38,0)) * n_docs) div (n_dup * n_lowq)")))
      .orderBy("source")
  }

  /** dedup_soft_weights: duplication-aware TRAINING WEIGHTS instead of
    * removal (the SoftDedup recipe, He et al. 2024: hard dedup throws
    * away the signal that duplicated text is often popular/high-quality
    * text; down-weighting each copy by its cluster's size keeps every
    * document in the mix while making each duplicated CONTENT count
    * once in expectation). The duplication factor is the size of the
    * doc's near-dup cluster from [[nearDupClusters]] — which already
    * covers both exact copies (expanded through the rep map) and fuzzy
    * variants — defaulting to 1 for unclustered docs;
    * weight_milli = 1000 div dup_factor, so a cluster's total weight is
    * ~1000 regardless of how many near-copies the crawl found.
    *
    * Scale shape: the clusters machinery plus one map-side-combinable
    * size aggregate and two joins keyed on doc/cluster ids — nothing
    * new shuffles document text. Output: (doc_id, dup_factor,
    * weight_milli) for every document, ordered.
    */
  def softDedupWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = nearDupClusters(spark, sfDir) // store-materialized
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_n"))
    table(spark, sfDir, "documents").select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .join(sizes, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_n"), lit(1L)).as("dup_factor"))
      .withColumn("weight_milli", expr("1000 div dup_factor"))
      .orderBy("doc_id")
  }

  /** The full corpus-cleaning ladder: quality gate -> exact dedup
    * (cleanCorpus) -> FUZZY dedup: among the surviving docs, keep one
    * doc per near-dup cluster (the smallest surviving doc_id; docs in no
    * cluster are their own singleton). Output: (doc_id, content_key),
    * ordered — the corpus an LLM pretraining run would actually ingest.
    */
  def cleanCorpusFuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val survivors = cleanCorpus(spark, sfDir)
    val clusters = nearDupClusters(spark, sfDir)
    survivors.join(clusters, Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy("cid")))
      .filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "content_key")
      .orderBy("doc_id")
  }

  /** pipeline_fuzzy_best: the full ladder with a QUALITY-AWARE cluster
    * survivor — cleanCorpusFuzzy keeps the accidental smallest id per
    * near-dup cluster; production keeps the most complete member. Among
    * each cluster's quality-gate + exact-rung survivors (all already
    * pass the gate, so the composite is decided), keep the LONGEST raw
    * doc, doc_id ascending as the tie-break — near-dup clusters group
    * truncated/mirrored variants of one page, and the longest member
    * preserved the most content (the cluster-level analog of
    * `bestRep`'s within-group choice; the exact rung's variant choice
    * composes through it). Same machinery end to end, only the final
    * selection differs; the emitted n_chars_kept is the audit column.
    *
    * Output: (doc_id, content_key, n_chars_kept), ordered by doc_id.
    */
  def cleanCorpusFuzzyBest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val survivors = cleanCorpus(spark, sfDir)
    val lens = table(spark, sfDir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_kept"))
    val clusters = nearDupClusters(spark, sfDir)
    val w = Window.partitionBy("cid")
      .orderBy(col("n_chars_kept").desc, col("doc_id").asc)
    survivors.join(clusters, Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
      .join(lens, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("doc_id", "content_key", "n_chars_kept")
      .orderBy("doc_id")
  }

  /** Eval-set decontamination — the check every pre-training pipeline
    * must run: find training docs that share >= minOverlap distinct
    * n-grams with ANY document of the held-out eval set (benchmark
    * leakage). Here the eval set is the deterministic stand-in
    * doc_id % evalMod == 0; in production it's the actual benchmark
    * suite, which is SMALL by nature — hence the broadcast: the eval
    * n-gram set ships to every executor and the 100 TB train side is
    * scanned once with a map-side semi-join + aggregation, no shuffle
    * of the train shingles. Output: (doc_id, n_overlap) for flagged
    * train docs — the drop list plus the evidence.
    */
  def decontaminate(spark: SparkSession, sfDir: String,
                    evalMod: Int = 97, minOverlap: Int = 3,
                    shingleN: Int = 3): DataFrame =
    // run-lifetime store: the flagged-doc relation is read by
    // pipeline_decontaminate AND the curation funnel (pipeline_e2e)
    // — ≥2 registered consumers — and the build is a full corpus
    // shingle pass per call. orderBy outside.
    decontamStores.getOrBuild(spark, sfDir, Seq("documents"),
        evalMod, minOverlap, shingleN) {
      val sh = shingles(table(spark, sfDir, "documents"), shingleN)
      val evalShingles = sh.filter(col("doc_id") % evalMod === 0)
        .select("shingle").distinct()
      sh.filter(col("doc_id") % evalMod =!= 0)
        .join(broadcast(evalShingles), Seq("shingle"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_overlap")) // sh is distinct per doc
        .filter(col("n_overlap") >= minOverlap)
        .materialized
    }.orderBy("doc_id")

  private val decontamStores =
    graft.ArtifactStore.frames("dedup.decontaminate")

  /** Bloom-prefiltered decontamination — `decontaminate` for the regime
    * where the eval-shingle set outgrows a comfortable broadcast: build
    * a fixed-size Bloom filter over the eval shingles (Spark's own
    * runtime-join-filter aggregate, constructed directly — it has no SQL
    * registration), ship THAT to every executor, and drop the ~all of
    * the 100 TB train side that can't overlap before any join. The
    * surviving sliver then takes the EXACT join (false positives
    * eliminated), so the output relation is identical to `decontaminate`
    * — same oracle. At harness scale the confirm join still broadcasts;
    * at eval-sets-too-big-to-broadcast scale it becomes a shuffle join
    * over the bloom-reduced survivors, which is the entire point.
    */
  def decontaminateBloom(spark: SparkSession, sfDir: String,
                         evalMod: Int = 97, minOverlap: Int = 3,
                         shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val sh = shingles(table(spark, sfDir, "documents"), shingleN)
    val evalShingles = sh.filter(col("doc_id") % evalMod === 0)
      .select("shingle").distinct()
    // the sketch is evaluated once and embedded as a CONSTANT binary:
    // might_contain requires a constant/scalar-subquery filter side (it
    // is Spark's runtime-filter primitive, which does exactly this —
    // evaluate the filter subquery, then probe with the result). The
    // driver pull is the fixed sketch size (numBits/8 = 100 KB here),
    // independent of eval-set or corpus size — not a data collect.
    val bfBytes = evalShingles.agg(column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        expression(xxhash64(col("shingle"))),
        Literal(100000L), Literal(800000L)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val mightHit = column(BloomFilterMightContain(
      Literal(bfBytes), expression(xxhash64(col("shingle")))))
    sh.filter(col("doc_id") % evalMod =!= 0)
      .filter(mightHit)
      .select("doc_id", "shingle")
      .join(broadcast(evalShingles), Seq("shingle")) // exact: kills FPs
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .orderBy("doc_id")
  }

  /** Embedding near-dup: pairs of vectors with cosine >= minCos.
    * Candidates come from random-hyperplane LSH buckets
    * (Similarity.lshNearDupPairs) — exact cosine runs only within
    * buckets, never as an all-pairs join over the corpus.
    */
  /** Passage-level exact dedup across the corpus (the C4/RefinedWeb
    * "line dedup" rung, segmented on fixed token windows because this
    * corpus has no newlines): split every document into non-overlapping
    * `passageTokens`-token passages, keep only the FIRST occurrence of
    * each distinct passage corpus-wide (first = smallest (doc_id,
    * seg_idx)), and reassemble each document from its surviving
    * passages in order.
    *
    * Scale shape: first-occurrence-wins is an ARGMIN AGGREGATION
    * (`min(struct(doc_id, seg_idx, ptext))` grouped by the passage
    * hash), not a self-join — a boilerplate passage repeated 10^6 times
    * across a crawl collapses to one row per partition in the map-side
    * partial aggregate and never materializes any pair. Reassembly is
    * one shuffle on doc_id with `sort_array(collect_list(struct))` so
    * the order inside the rebuilt text is deterministic regardless of
    * partition order. Output stays fixed-width at any corpus size: the
    * rebuilt text ships as its md5, not the string.
    *
    * Output: (doc_id, n_passages, n_kept, clean_md5) ordered by doc_id;
    * docs whose every passage was seen earlier surface with n_kept=0
    * and md5('') — the dropped-content count is the interesting number.
    */
  def passageDedup(spark: SparkSession, sfDir: String,
                   passageTokens: Int = 32): DataFrame =
    passageDedupDocs(table(spark, sfDir, "documents"), passageTokens)

  /** Composable form over any (doc_id, text) frame — see [[passageDedup]]. */
  def passageDedupDocs(docs: DataFrame, passageTokens: Int = 32): DataFrame = {
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val seg = docs
      .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          floor((col("n") - 1) / passageTokens).cast("int"))).as("seg_idx"))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
        concat_ws(" ",
          slice(col("toks"), col("seg_idx") * passageTokens + 1,
            lit(passageTokens))).as("ptext"))
    val survivors = seg
      .groupBy(md5(col("ptext")).as("h"))
      .agg(min(struct(col("doc_id"), col("seg_idx"), col("ptext"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.seg_idx").as("seg_idx"),
        col("w.ptext").as("ptext"))
    val kept = survivors.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("seg_idx"), col("ptext")))),
            s => s.getField("ptext")))).as("clean_md5"))
    seg.groupBy("doc_id").agg(count(lit(1)).as("n_passages"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_passages"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_md5"), lit(md5Hex(""))).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Composed C4-style cleaning pass: Gopher rule gate -> passage-level
    * dedup over the survivors -> per-source audit summary. The order
    * matters at scale: the rule gate is a zero-shuffle narrow filter, so
    * it runs FIRST and shrinks the passage-dedup shuffles (the expensive
    * stage) by the rejection rate; dedup results then roll up per source
    * with doc counts, passage keep rates, and how many docs deduped to
    * nothing — the numbers a corpus-curation run reports per snapshot.
    */
  def gopherClean(spark: SparkSession, sfDir: String,
                  passageTokens: Int = 32): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val kept = TextAnalysis.gopherRules(spark, sfDir)
      .filter(col("keep")).select("doc_id")
    val survivors = docs.join(kept, Seq("doc_id"), "left_semi")
    passageDedupDocs(survivors, passageTokens)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_passages")).as("n_passages"),
        sum(col("n_kept")).as("n_kept_passages"),
        sum(when(col("n_kept") === 0, 1L).otherwise(0L)).as("n_emptied_docs"))
      .orderBy("source")
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** dedup_substring: exact-substring duplication report — for every
    * document, what fraction of its n-token windows also appears in
    * ANOTHER document (the per-doc signal behind suffix-array substring
    * dedup, Lee et al. 2022 "Deduplicating Training Data": long shared
    * spans mark boilerplate/mirrored content even when whole documents
    * differ). Passage dedup (`passageDedup`) removes FIXED-ALIGNED
    * blocks; this rung measures overlap at EVERY alignment.
    *
    * Scale shape: windows are hashed to 60-bit integers inside the
    * per-row transform and deduplicated IN-ROW (array_distinct — a
    * doc's windows all come from its one source row, so the per-doc
    * DISTINCT needs no exchange at all; the string never leaves its
    * row, matching the oracle, whose DISTINCT is on the hash). Window
    * occurrence counts come from a map-side-combinable
    * `groupBy(w).count()` joined back onto the shingle stream — NOT a
    * count-over-partition window: window functions get no partial
    * aggregation, so a hot boilerplate n-gram appearing in a few
    * percent of documents would land every occurrence on ONE task. With
    * the hash aggregate, a hot window costs one partial count per input
    * partition plus a single merged row; the join back is hash-to-hash
    * on `w` where the count side has exactly one row per distinct
    * window. Both shuffles carry (doc_id, hash) pairs only: linear
    * in corpus token count at any scale. The window frame feeds both
    * the count side and the probe side, so it is materialized once
    * (localCheckpoint) rather than re-scanned per consumer. Exact duplicate
    * documents intentionally participate (their spans ARE duplicated
    * text); they cost group-size increments, not quadratic pairs.
    *
    * Output: (doc_id, n_windows, n_dup_windows, dup_milli) for docs
    * with >= n tokens; dup_milli = floor(1000 * dup/total).
    */
  def substringDupReport(spark: SparkSession, sfDir: String,
                         n: Int = 8): DataFrame = {
    // h60 applies inside the per-row transform and the per-doc distinct
    // is in-row too (a doc's windows all come from its one source row),
    // so the first exchange this frame feeds carries (doc_id, int64)
    // rows with no corpus-wide dedup shuffle before it; materialized
    // once because BOTH the count side and the probe side consume it
    // (the dedup shuffle whose exchange AQE used to reuse is gone)
    val sh = docsSpread(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          graft.functions.ShingleColumns.wordShingles(col("text"), n),
          s => h60(s)))).as("w"))
      .materialized
    val wCounts = sh.groupBy("w").agg(count(lit(1)).as("n_occ"))
    sh.join(wCounts, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n_occ") >= 2L, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        expr("(1000 * n_dup_windows) div n_windows").as("dup_milli"))
      .orderBy("doc_id")
  }

  /** dedup_substring_refresh: the substring report against a PERSISTED
    * window-frequency store — the daily-ingest form of
    * [[substringDupReport]]. A full-corpus span scan is a once-per-
    * snapshot cost; the daily case is "how duplicated is TODAY'S batch
    * against everything already ingested". Because the report's window
    * frequency is a distinct-DOC count and batches partition the docs,
    * per-batch counts merge by plain SUM — so the store holds one
    * (window-hash, count) row per batch, bucketed by the hash
    * (Bucketed.writeBucketed, run-scoped), a new batch folds in with
    * appendBucketed, and the merged count is a rollup that reads
    * co-located buckets with no store-side Exchange. The fresh batch's
    * (doc, window) relation is computed ONCE (checkpointed) and feeds
    * both its fold-in counts and the probe.
    *
    * The output is the EXACT substringDupReport relation restricted to
    * the fresh batch — structural equality with the full rebuild
    * (disjoint doc sets sum to the corpus count), which is what the
    * shared-semantics oracle verifies. Old docs' text is never re-read.
    *
    * Output: (doc_id, n_windows, n_dup_windows, dup_milli) for fresh
    * (doc_id % mod == 0) docs with >= n tokens, ordered by doc_id.
    */
  /** The history split's (window-hash, distinct-doc count) frame — the
    * store seed both substring-refresh consumers build their bucketed
    * window stores from (batch: dedup_substring_refresh; ingest:
    * stream_substring), served once per (corpus, n, mod) per run (the
    * streaming twin used to re-pay the full history explode+distinct on
    * every invocation). Each consumer still
    * writes its OWN bucketed table from this frame — refresh appends
    * its fresh batch into its copy (mutation), so the TABLE cannot be
    * the shared artifact; the scan is.
    */
  private val windowCountStores =
    graft.ArtifactStore.frames("dedup.histWindowCounts")
  private[graft] def histWindowCounts(spark: SparkSession, sfDir: String,
                                      n: Int, mod: Int): DataFrame =
    windowCountStores.getOrBuild(spark, sfDir, Seq("documents"), n, mod) {
      docsSpread(spark, sfDir)
        .filter(col("doc_id") % mod =!= 0)
        .select(col("doc_id"),
          explode(graft.functions.ShingleColumns.wordShingles(col("text"), n)).as("shingle"))
        .select(col("doc_id"), h60(col("shingle")).as("w"))
        .distinct()
        .groupBy("w").agg(count(lit(1)).as("c"))
        .materialized
    }

  def substringRefresh(spark: SparkSession, sfDir: String,
                       n: Int = 8, mod: Int = 4,
                       nBuckets: Int = 8): DataFrame = {
    val docs = docsSpread(spark, sfDir)
    def windows(d: DataFrame): DataFrame = d
      .select(col("doc_id"),
        explode(graft.functions.ShingleColumns.wordShingles(col("text"), n)).as("shingle"))
      .select(col("doc_id"), h60(col("shingle")).as("w"))
      .distinct()
    val freshWins = windows(docs.filter(col("doc_id") % mod === 0))
      .materialized // one pass: fold-in counts + probe side
    val name = graft.sources.Bucketed.scopedName(spark, "graft_window_store")
    graft.sources.Bucketed.writeBucketed(spark,
      histWindowCounts(spark, sfDir, n, mod),
      name, graft.sources.Bucketed.scopedPath(spark, name), "w", nBuckets)
    graft.sources.Bucketed.appendBucketed(spark,
      freshWins.groupBy("w").agg(count(lit(1)).as("c")), name, "w", nBuckets)
    val merged = spark.table(name).groupBy("w")
      .agg(sum(col("c")).cast("long").as("n_occ"))
    freshWins.join(merged, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n_occ") >= 2L, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        expr("(1000 * n_dup_windows) div n_windows").as("dup_milli"))
      .orderBy("doc_id")
  }

  /** dedup_substring_rewrite: exact-substring duplication REMOVAL — the
    * other half of Lee et al. 2022 ("Deduplicating Training Data"):
    * rather than dropping whole documents, EXCISE every n-token span
    * that occurs more than once in the corpus and keep the rest of the
    * document intact, in order. (The paper's ExactSubstr dedup: repeated
    * spans mark boilerplate/mirrored text even when documents differ; a
    * token survives iff NO duplicated window covers it.) Occurrence
    * counting is TOTAL occurrences (every start position, within-doc
    * repeats included), per the paper — unlike [[substringDupReport]],
    * which reports distinct-document frequency.
    *
    * Scale shape, stage by stage:
    *  - window starts are (doc_id, pos, h60(window)) rows — the string
    *    leaves the plan at the projection; one row per token, linear in
    *    corpus token count.
    *  - occurrence counts are a map-side-combinable `groupBy(w).count()`
    *    (one partial per input partition for a hot boilerplate n-gram,
    *    never a single-task window partition).
    *  - duplicated starts survive via a LEFT SEMI join against the
    *    `n_occ >= 2` window set — the n_occ value itself is never
    *    carried, so the build side is just the duplicated window keys.
    *  - per-doc rebuild: duplicated starts collapse to ONE sorted array
    *    per doc (bounded by the doc's own token count), join back to the
    *    documents table on doc_id, and a single projection filters the
    *    token array by span coverage and reassembles the survivors in
    *    order. Per-row compute is O(n_toks * n_dup_starts) — bounded by
    *    document length squared in the worst (fully duplicated) case,
    *    which the upstream quality gate caps; no shuffle sees anything
    *    wider than (doc_id, pos).
    *  - the rebuilt text ships as its md5, not the string (fixed-width
    *    output at any corpus size); chars_removed is the audit number a
    *    cleaning run reports per snapshot.
    *
    * Duplicate detection tokenizes LOWERCASED text (same fold as the
    * whole fuzzy ladder); excision applies to the original-case tokens
    * at the same positions (lowercasing never adds/removes spaces, so
    * positions align 1:1).
    *
    * Output: (doc_id, n_toks, n_removed, removed_milli, chars_removed,
    * clean_md5) for docs with >= 1 token, ordered by doc_id;
    * removed_milli = floor(1000 * removed/total), chars_removed = code
    * points of excised tokens (separators excluded).
    */
  def substringDupRewrite(spark: SparkSession, sfDir: String,
                          n: Int = 8): DataFrame = {
    val docs = docsSpread(spark, sfDir)
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val base = docs.select(col("doc_id"), toks.as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .filter(col("n_toks") > 0)
    // posexplode: pos = 0-based start token index of each window;
    // wordShingles lowercases + tokenizes exactly like `toks` above.
    // localCheckpoint: sh feeds BOTH the occurrence count and the
    // semi-join probe, and the two consumers
    // diverge before any common exchange — without materialization the
    // scan + per-window md5 (the dominant CPU) runs twice. One
    // materialization costs the same IO class as the shuffle write it
    // feeds; blocks are freed by the ContextCleaner (see object header).
    val sh = docs.select(col("doc_id"),
        posexplode(graft.functions.ShingleColumns.wordShingles(col("text"), n)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        h60(col("col")).as("w"))
      .materialized
    val dupW = sh.groupBy("w").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2L).select("w")
    val starts = sh.join(dupW, Seq("w"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    val charMass = (c: Column) =>
      aggregate(c, lit(0L), (acc, t) => acc + length(t))
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), array().cast("array<bigint>")))
      .withColumn("kept",
        filter(col("toks"), (t, i) =>
          !exists(col("starts"), s => s <= i && i <= s + lit(n - 1))))
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - size(col("kept"))).as("n_removed"),
        expr(s"(1000 * (n_toks - size(kept))) div n_toks").as("removed_milli"),
        (charMass(col("toks")) - charMass(col("kept"))).as("chars_removed"),
        md5(concat_ws(" ", col("kept"))).as("clean_md5"))
      .orderBy("doc_id")
  }

  def embeddingNearDups(spark: SparkSession, sfDir: String,
                        minCosMilli: Long = 990): DataFrame =
    Similarity.lshNearDupPairs(spark, sfDir, minCosMilli)

  /** pipeline_e2e: the END-TO-END curation funnel — every stage of the
    * cleaning ladder composed into one run, reporting exact survivor
    * counts per stage:
    *
    *   1_raw -> 2_quality (rule gate) -> 3_exact (content dedup of the
    *   kept) -> 4_fuzzy (near-dup cluster collapse) -> 5_decontaminated
    *   (eval members AND eval-overlapping docs dropped) ->
    *   6_sampled (mix-rate hash coin)
    *
    * This is the snapshot-level report a corpus build publishes: each
    * number is the INPUT to the next stage, so regressions localize to
    * a stage immediately. Stage ordering is the scale ordering — narrow
    * gates first (quality is a zero-shuffle filter), the expensive
    * fuzzy collapse only over exact survivors, decontamination as a
    * broadcast semi-join, sampling as a per-row hash — and each stage's
    * operator is the SAME function registered standalone, so the funnel
    * is composition, not reimplementation.
    *
    * Output: (stage, n_docs), 6 rows.
    */
  def curationFunnel(spark: SparkSession, sfDir: String,
                     evalMod: Int = 97): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val quality = TextAnalysis.qualityScore(spark, sfDir)
      .filter(col("quality_keep")).select("doc_id")
    val exact = cleanCorpus(spark, sfDir).select("doc_id")
    val fuzzy = cleanCorpusFuzzy(spark, sfDir).select("doc_id").materialized
    val flagged = decontaminate(spark, sfDir, evalMod).select("doc_id")
    val decon = fuzzy.filter(col("doc_id") % evalMod =!= 0)
      .join(flagged, Seq("doc_id"), "left_anti").materialized
    val sampled = decon
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .filter(Corpus.mixToss < Corpus.mixRate)
    Seq(
      "1_raw" -> docs.select("doc_id"), "2_quality" -> quality,
      "3_exact" -> exact, "4_fuzzy" -> fuzzy,
      "5_decontaminated" -> decon, "6_sampled" -> sampled.select("doc_id"))
      .map { case (stage, df) =>
        df.agg(count(lit(1)).as("n_docs")).select(lit(stage).as("stage"), col("n_docs"))
      }
      .reduce(_ unionByName _)
      .orderBy("stage")
  }

  /** corpus_overlap: the source-pair n-gram containment matrix — for
    * every pair of sources, how much of the smaller source's distinct
    * 8-token-window set also appears in the other. This is the
    * snapshot-level contamination/mirror audit a corpus build runs
    * BEFORE mixing sources: a high-containment pair means one feed
    * mirrors another (CommonCrawl re-crawls, syndicated boilerplate,
    * a vendor reselling a scrape), and the mix weights double-count it.
    * Same window fold as the intra-corpus rungs ([[substringDupReport]]).
    *
    * Scale shape: the (source, window-hash) relation is DISTINCT first
    * — one row per source per distinct window, hashes only. The
    * self-join key is the window hash, and the per-key fanout is
    * bounded by the SOURCE DIMENSION, not the corpus: a window present
    * in s of the corpus's S sources yields at most C(s,2) <= C(S,2)
    * pair rows (S ~ 10^1..10^2 feeds in a real build — this is why no
    * maxDf stop-window guard is needed here, unlike the per-DOCUMENT
    * pair rungs where a hot window's fanout is corpus-sized). Totals
    * per source are a second aggregate of the same distinct relation;
    * the matrix itself is |S|^2 rows at most — driver-safe output at
    * any corpus size.
    *
    * Output: (src_a, src_b, n_shared, n_windows_a, n_windows_b,
    * containment_milli) for pairs with >= 1 shared window, src_a <
    * src_b, containment_milli = floor(1000 * shared / min(totals)).
    */
  def sourceOverlap(spark: SparkSession, sfDir: String,
                    n: Int = 8): DataFrame = {
    val sw = table(spark, sfDir, "documents")
      .select(col("source"),
        explode(graft.functions.ShingleColumns.wordShingles(col("text"), n)).as("shingle"))
      .select(col("source"), h60(col("shingle")).as("w"))
      .distinct()
      .materialized // one pass for both the join sides and totals
    val totals = sw.groupBy("source").agg(count(lit(1)).as("n_windows"))
    sw.as("a")
      .join(sw.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(totals.select(col("source").as("src_a"), col("n_windows").as("n_windows_a")), Seq("src_a"))
      .join(totals.select(col("source").as("src_b"), col("n_windows").as("n_windows_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("n_windows_a"), col("n_windows_b"),
        expr("(1000 * n_shared) div least(n_windows_a, n_windows_b)").as("containment_milli"))
      .orderBy("src_a", "src_b")
  }

  /** corpus_kmv_overlap: the SKETCH twin of [[sourceOverlap]] — KMV
    * (k-minimum-values, Bar-Yossef et al. 2002; Beyer et al. 2007
    * "On synopses for distinct-value estimation") bottom-k sketches
    * per source, with pairwise union/intersection estimates computed
    * from the sketches alone. [[sourceOverlap]] is exact but pays a
    * w-keyed self-join whose shuffle carries EVERY distinct window of
    * every source; this rung ships k longs per source and estimates
    * the same overlap structure — the cross-snapshot / cross-source
    * audit shape a 100 TB corpus runs daily, where the exact join is a
    * once-per-release verification.
    *
    * Estimator (all-integer; M = 2^32 is the h32 hash space):
    *   distinct(S)  ≈ (k-1)·M div u_k       (u_k = k-th smallest hash)
    *     ... exact |sketch| when the source has fewer than k windows
    *   union: the k smallest of sketch(A) ∪ sketch(B) is EXACTLY the
    *     KMV sketch of A ∪ B (closure under union — what makes KMV
    *     mergeable), so the same estimator applies;
    *   intersection ≈ (|shared within the union sketch| · est_union)
    *     div k_used  (the Jaccard-from-sketch identity).
    *
    * Scale shape: one distinct on (source, h32) — the only corpus-sized
    * shuffle — then the bounded [[graft.functions.TopKSketch]] aggregate
    * (ord = −w keeps the k SMALLEST; partial top-k map-side, k entries
    * per source cross the wire, no per-group sort). The pair stage is
    * |sources|² rows of k-length array math. The 32-bit space trades
    * ~100 expected collisions per 10^6 distinct windows (deterministic,
    * oracle-identical) for overflow-free (k-1)·M products in BIGINT;
    * production swaps h32 for xxhash64 into a 2^60 space with DECIMAL
    * accumulators (see OracleHash's fastHash64 note).
    *
    * Output per source pair (src_a < src_b): k_used (union sketch
    * fill), n_shared (shared values inside the union sketch), est_a,
    * est_b (per-source distinct estimates), est_union, est_inter.
    */
  def kmvSourceOverlap(spark: SparkSession, sfDir: String,
                       n: Int = 8, k: Int = 128): DataFrame = {
    val M = 4294967296L // 2^32
    val kmM = (k - 1).toLong * M
    val sw = table(spark, sfDir, "documents")
      .select(col("source"),
        explode(graft.functions.ShingleColumns.wordShingles(col("text"), n)).as("shingle"))
      .select(col("source"), graft.functions.OracleHash.h32(col("shingle")).as("w"))
      .distinct()
    // bottom-k per source: TopKTagAgg on ord = -w ranks smallest w first
    val sk = sw
      .groupBy("source")
      .agg(graft.functions.TopKSketch.topK(negate(col("w")), col("w").cast("string"), k)
        .as("tk"))
      .select(col("source"),
        transform(col("tk"), e => negate(e.getField("n"))).as("sk"))
      .withColumn("est",
        when(size(col("sk")) < k, size(col("sk")).cast("long"))
          .otherwise(expr(s"${kmM}L div element_at(sk, $k)")))
    sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(
        col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.est").as("est_a"), col("b.est").as("est_b"),
        slice(array_sort(array_distinct(concat(col("a.sk"), col("b.sk")))), 1, k).as("uk"),
        array_intersect(col("a.sk"), col("b.sk")).as("shared"))
      .withColumn("k_used", size(col("uk")).cast("long"))
      .withColumn("n_shared",
        size(array_intersect(col("uk"), col("shared"))).cast("long"))
      .withColumn("est_union",
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(s"${kmM}L div element_at(uk, $k)")))
      .withColumn("est_inter", expr("(n_shared * est_union) div k_used"))
      .select("src_a", "src_b", "k_used", "n_shared",
        "est_a", "est_b", "est_union", "est_inter")
      .orderBy("src_a", "src_b")
  }

  /** dedup_best_rep: quality-aware representative selection — the
    * production refinement of `exact`'s min-doc_id rule. Exact-content
    * groups (same md5 of the case/whitespace-normalized text) still
    * collapse to one survivor, but the survivor is the VARIANT with the
    * best raw-text quality signals, not the accidental smallest id:
    * normalization erases case and whitespace, so the group's members
    * can differ in exactly the formatting a training corpus wants to
    * keep intact (an all-caps scrape and its clean original normalize
    * identically — keep the clean one). Selection key, lexicographic:
    * quality_keep (the `text_quality` composite gate on the RAW text)
    * desc, raw char length desc (the longest variant preserved the most
    * original whitespace), doc_id asc as the deterministic tie-break.
    *
    * Scale shape: identical to `exact` — ONE shuffle on the 128-bit
    * content key with map-side partial aggregation (the argmax rides a
    * single max(struct(...)) accumulator, never a window; a window form
    * would sort each group, this combines). Group sizes are duplicate
    * cluster sizes (tiny), no skew risk; the quality signals are
    * per-row narrow projections computed before the exchange.
    *
    * Output, one row per content group (`exact`'s relation enriched
    * with the quality choice — singleton groups keep their only member,
    * so the relation is never empty on a dup-free corpus):
    * (content_key, keep_doc_id, n_copies, kept_q_keep, kept_n_chars,
    * min_doc_id, diverges_from_min_id), ordered by keep_doc_id.
    * `diverges_from_min_id` marks exactly the rows where quality-aware
    * selection changed the outcome vs `exact`.
    */
  def bestRep(spark: SparkSession, sfDir: String): DataFrame =
    bestRepFrame(table(spark, sfDir, "documents")).orderBy("keep_doc_id")

  /** The selection core of `bestRep` on any (doc_id, text) frame,
    * batch or streaming — the aggregate form works unchanged as a
    * Complete-mode streaming aggregation (see
    * StreamingOps.streamBestRep), which is why the argmax is an
    * accumulator and not a window. Unordered.
    */
  private[graft] def bestRepFrame(docs: DataFrame): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast("long")
    val qKeep = (nTok >= 10 && nTok <= 100000 && nStop * lit(100) >= nTok)
    docs
      .select(col("doc_id"), md5(norm).as("content_key"),
        length(col("text")).cast("long").as("n_chars_raw"),
        qKeep.cast("long").as("q_keep"))
      .groupBy("content_key")
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("min_doc_id"),
        max(struct(col("q_keep"), col("n_chars_raw"),
          (-col("doc_id")).as("neg_id"))).as("k"))
      .select(col("content_key"),
        (-col("k.neg_id")).as("keep_doc_id"),
        col("n_copies"),
        col("k.q_keep").as("kept_q_keep"),
        col("k.n_chars_raw").as("kept_n_chars"),
        col("min_doc_id"))
      .withColumn("diverges_from_min_id", col("keep_doc_id") =!= col("min_doc_id"))
  }
}
