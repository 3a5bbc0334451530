package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftSession.table
import graft.functions.OracleHash
import graft.Materialize.MaterializeOps

/** Similarity search over the `embeddings` table (ARRAY<FLOAT>, 64-dim).
  *
  * Two rungs:
  *  - brute-force cosine top-k: exact, O(|Q| x |N|) — correct baseline and
  *    perfectly fine when |Q| is small (the re-rank stage of any ANN);
  *  - LSH-bucketed ANN: random-hyperplane signatures shrink the candidate
  *    set to same-bucket vectors, the scale path when |Q| ~ |N|.
  *
  * Dot products use higher-order functions (`zip_with` + `aggregate`) —
  * codegen'd, no UDF, no driver collect. Vectors are cast to DOUBLE
  * before any arithmetic: deterministic left-fold, same order the oracle
  * (DuckDB `list_reduce`) uses, so results hash-match exactly.
  *
  * Scale notes (100 TB of vectors): the brute-force form broadcasts the
  * query set (small side) against a partitioned corpus — linear scan,
  * embarrassing parallel, no shuffle of the corpus. The LSH form is one
  * shuffle on (band, signature). A production IVF would add a k-means
  * coarse quantizer; the plumbing (bucket column + co-partitioned join)
  * is identical to lshAnn below.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays (oracle twin:
    * list_dot_product / list_reduce(list_transform(...))).
    *
    * Backed by the native codegen'd expression graft.functions.DotProduct
    * — Spark's higher-order `aggregate(zip_with(...))` formulation is
    * CodegenFallback (interpreted per-element lambda dispatch) and was
    * the hot path of the similarity suite. Identical fold order, so
    * results are bit-identical to the previous formulation.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(graft.functions.DotProduct(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))
  }

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in exact thousandths (BIGINT) — integer surface,
    * no float-hash drift; the underlying double math is order-fixed.
    */
  def cosMilli(a: Column, b: Column): Column =
    floor(dot(a, b) / (norm2(a) * norm2(b)) * 1000).cast("long")

  private def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))

  /** Absolute row cap for every frame this file BROADCASTS into a
    * nested-loop join. Strided (`vec_id % m == 0`) selections are
    * corpus-PROPORTIONAL — fine as probe workloads, wrong as broadcast
    * build sides at 100 TB (N/m vectors do not fit in an executor at
    * any m you'd pick) — so each one is additionally capped at the
    * `broadcastCap` smallest ids (deterministic TakeOrdered). The cap
    * binds at no harness scale (strided sets are <= 40 rows at sf0.1
    * and FIXED under the 10x replication scheme), and every capped
    * frame's DuckDB oracle mirrors the exact ORDER BY vec_id LIMIT
    * so Spark and oracle stay aligned even at a scale
    * where it DOES bind; at production scale it is the structural
    * guarantee PlanShapeSpec verifies IN the plan: broadcast bytes stay
    * O(cap x dim), never O(corpus / stride). Query-side strides that
    * are NOT broadcast (probe workloads flowing through shuffled joins)
    * stay uncapped, and their oracles replay the bare stride.
    */
  private val broadcastCap = 4096
  private def capped(df: DataFrame): DataFrame =
    df.orderBy("vec_id").limit(broadcastCap)

  /** Brute-force cosine top-k: every `stride`-th vector queries the whole
    * corpus. Query side is tiny -> broadcast; corpus is scanned once.
    */
  def bruteForceTopK(spark: SparkSession, sfDir: String,
                     k: Int = 10, stride: Int = 50): DataFrame =
      annResult(spark, sfDir, s"bf|$k|$stride") {
    val emb = embeddings(spark, sfDir)
    val queries = capped(emb.filter(col("vec_id") % stride === 0))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosMilli(col("qv"), col("v")).as("cos_milli"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_milli").desc, col("n_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("n_id"), col("cos_milli"))
      .orderBy("q_id", "rk")
  }

  /** Brute-force cosine top-k for a CALLER-SUPPLIED query-id frame
    * (one `q_id` column, bounded by the caller — text_hybrid_rrf's
    * absolute-size anchor set). Same plan as [[bruteForceTopK]]: the
    * query vectors broadcast, the corpus scans once; ids absent from
    * the embeddings table simply contribute no queries (inner join).
    */
  def bruteForceTopKFor(spark: SparkSession, sfDir: String,
                        queryIds: DataFrame, k: Int = 10): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val queries = emb.join(queryIds.select(col("q_id")),
        col("vec_id") === col("q_id"))
      .select(col("q_id"), col("v").as("qv"))
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosMilli(col("qv"), col("v")).as("cos_milli"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_milli").desc, col("n_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("n_id"), col("cos_milli"))
      .orderBy("q_id", "rk")
  }

  /** All-pairs cosine over a FIXED-SIZE sample (exact verification stage
    * for embedding near-dup). Quadratic BY DESIGN — it exists to verify
    * the ANN/LSH rungs against ground truth — so the sample must be an
    * absolute size, not a fraction: the `maxSample` smallest vec_ids give
    * at most maxSample*(maxSample-1)/2 pairs (~125k at the default 500)
    * NO MATTER how large the corpus grows. A strided sample would
    * re-quadratize at 100x data; this cannot.
    *
    * The sample is materialized once (localCheckpoint) so the self-join
    * doesn't run the TakeOrdered twice, and re-spread over the default
    * shuffle partitions so the pair scoring parallelizes.
    */
  def allPairsCosine(spark: SparkSession, sfDir: String, maxSample: Int = 500): DataFrame = {
    val emb = embeddings(spark, sfDir)
      .orderBy("vec_id").limit(maxSample) // TakeOrdered: O(maxSample) per partition
      .materialized
      .limit(maxSample) // re-bounds the sample in-plan: the checkpoint
      // hides the TakeOrdered behind an RDD scan, and the self-join
      // below must stay provably bounded to the plan sweep
    val a = emb.select(col("vec_id").as("vec_a"), col("v").as("va"))
      .repartition(col("vec_a"))
    val b = emb.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosMilli(col("va"), col("vb")).as("cos_milli"))
  }

  /** LSH-bucketed candidate PAIRS (for embedding near-dup): vectors
    * sharing any (band, signature) bucket are paired once, verified with
    * exact cosine. The corpus-wide cross join never exists — pair space
    * is bounded by bucket sizes, and near-identical vectors (the near-dup
    * target, cos >= ~0.99) almost surely agree on all sign bits of some
    * band. Same shuffle shape as lshAnn: one exchange on (band, sig).
    */
  /** One representative (min vec_id) per DISTINCT embedding vector — the
    * identical-VECTOR hot-bucket guard, the exact analog of
    * Dedup.representatives for text: m copies of one vector land in the
    * same LSH bucket in EVERY band and pair quadratically (the 10x
    * duplicate-replica scale bench measured dedup_embedding at 39.8x for
    * 10x data before this collapse). Copy-level identity is
    * `exactVectorDups`' product; the near-dup rung relates distinct
    * vectors only, so candidate volume scales with distinct content.
    */
  private[ops] def vectorRepresentatives(emb: DataFrame): DataFrame =
    emb.groupBy(col("v")).agg(min(col("vec_id")).as("vec_id"))
      .select("vec_id", "v")

  /** emb_exact_dups: exact vector dedup — one row per distinct embedding
    * with its kept representative and copy count (grouping on the raw
    * DOUBLE array: bit-identical vectors only, no tolerance — the
    * embedding twin of Dedup.exact). One shuffle on the vector value.
    */
  def exactVectorDups(spark: SparkSession, sfDir: String): DataFrame =
    embeddings(spark, sfDir)
      .groupBy(col("v"))
      .agg(min(col("vec_id")).as("keep_vec_id"), count(lit(1)).as("n_copies"))
      .select("keep_vec_id", "n_copies")
      .orderBy("keep_vec_id")

  def lshNearDupPairs(spark: SparkSession, sfDir: String,
                      minCosMilli: Long = 990,
                      nBits: Int = 8, nBands: Int = 4, dim: Int = 64): DataFrame = {
    // bucket REPRESENTATIVES only (see vectorRepresentatives): emitted
    // pairs relate distinct vectors; copies expand through exactVectorDups
    val bucketed = lshBucketsFrom(
      vectorRepresentatives(embeddings(spark, sfDir)), nBits, nBands, dim)
    val a = bucketed.select(col("band"), col("sig"), col("vec_id").as("vec_a"), col("v").as("va"))
    val b = bucketed.select(col("band"), col("sig"), col("vec_id").as("vec_b"), col("v").as("vb"))
    // score + threshold BEFORE the pair dedup:
    // cos_milli is a pure function of the pair's two vectors, so the
    // filter commutes with the distinct — and computing it inside the
    // band join means the dedup exchange ships (vec_a, vec_b, cos)
    // instead of carrying BOTH 64-double vectors per candidate row
    // (~1 KB/row) through the shuffle just to score after. A pair
    // matching in m bands re-scores m times (m <= nBands, dot product
    // over 64 floats) — per-task CPU traded for shuffle bytes, the
    // §2.3 direction at any scale.
    a.join(b, Seq("band", "sig")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosMilli(col("va"), col("vb")).as("cos_milli"))
      .filter(col("cos_milli") >= minCosMilli)
      .dropDuplicates("vec_a", "vec_b") // multi-band collisions pair once
      .orderBy("vec_a", "vec_b")
  }

  /** Deterministic random-hyperplane component: h60("band:bit:d") scaled
    * to [-1, 1). Derivable by the oracle (md5-based, see OracleHash).
    */
  private[ops] def planeComponent(band: Int, bit: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$band:$bit:$d".getBytes("UTF-8"))
    val h60 = java.lang.Long.parseLong(
      md.take(8).map("%02x".format(_)).mkString.substring(0, 15), 16)
    h60.toDouble / math.pow(2, 59) - 1.0 // [-1, 1)
  }

  /** (vec_id, v, band, sig) — each vector exploded to its nBands sign
    * signatures. Shared by lshAnn (query top-k) and lshNearDupPairs.
    *
    * Materialized via localCheckpoint: every caller self-joins this frame,
    * and the signature expressions embed nBands*nBits*dim (=2048) plane
    * literals — re-optimizing and re-executing that tree once per join
    * side dominated the runtime (measured 148s -> ~3s at sf0.1 for the
    * near-dup query). Checkpointing computes the buckets once and hands
    * the joins a flat, literal-free relation.
    */
  private[ops] def lshBuckets(spark: SparkSession, sfDir: String,
                              nBits: Int, nBands: Int, dim: Int): DataFrame =
    lshBucketsFrom(embeddings(spark, sfDir), nBits, nBands, dim)

  /** lshBuckets over a caller-supplied (vec_id, v) frame — the near-dup
    * rung, the multiprobe rung and lshAnn all band
    * representatives; lshAnn expands copies back afterwards so its
    * full-corpus id contract survives the collapse.
    */
  private[ops] def lshBucketsFrom(emb: DataFrame,
                                  nBits: Int, nBands: Int, dim: Int): DataFrame = {
    val sigCols = (0 until nBands).map { band =>
      val bits = (0 until nBits).map { bit =>
        // ONE ArrayType literal per plane: the element-wise
        // array(lit, lit, …) form put nBands x nBits x dim = 2048
        // Literal nodes in the plan, and analysis/optimization of that
        // tree was a per-call driver cost on every lshBuckets consumer;
        // a typedLit collapses each plane to a single literal (same
        // doubles, same dot, same signatures)
        val plane = typedLit((0 until dim).map(d => planeComponent(band, bit, d)))
        when(dot(plane, col("v")) > 0, 1L << bit).otherwise(0L)
      }
      bits.reduce(_ + _).as(s"sig_$band")
    }
    // spread BEFORE the sig compute + checkpoint: the
    // embeddings scan plans 1 split at harness mass, so the bucket
    // frame checkpointed 1-wide — and every consumer's join MAP stage
    // (the probe fanout carrying the query vector, the band-join
    // exchange writes) then ran single-task on that one partition
    // (census: a 1.34 s 1-task stage under sim_lsh_multiprobe, a
    // 0.30 s 1-task 24 MB exchange write under dedup_embedding).
    // Mass-proportional width (WindowDense — vector serialization is
    // per-byte work), gated off for a corpus whose scan already fills
    // the session. A FULL-width version of this spread measured
    // +0.1-0.6 s — the mass rule is what makes it pay.
    graft.Rebalance.spreadIfNarrow(emb, emb, graft.Rebalance.WindowDense,
        col("vec_id"))
      .select(col("vec_id") +: col("v") +: sigCols: _*)
      .select(col("vec_id"), col("v"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"), col(s"sig_$b").as("sig"))): _*)).as("bk"))
      .select(col("vec_id"), col("v"), col("bk.band").as("band"), col("bk.sig").as("sig"))
      .materialized
  }

  /** IVF-style ANN: a coarse quantizer partitions the corpus into cells,
    * each query probes its `nprobe` nearest cells, exact cosine re-ranks
    * inside the probed cells. The classic inverted-file trade: recall is
    * bounded by the probed fraction, and the per-query candidate set
    * shrinks by ~|cells|/nprobe versus a full scan.
    *
    * The quantizer here is deterministic (centroids = every
    * `centroidMod`-th vector, no Lloyd iterations) so the oracle can
    * replay it; `ivfAnnKMeans` below refines these same seeds with
    * broadcast Lloyd rounds — the plan shape (tiny broadcast
    * cross-score -> argmax cell -> co-grouped probe join) is identical.
    *
    * Scale notes: cell assignment costs ONE exchange keyed on vec_id —
    * the vector rides inside the max(struct) aggregation buffer, and
    * map-side partial aggregation collapses the x|cells| scoring fan-out
    * back to one row per vector before the shuffle, so no scored
    * (vector x centroid) relation is ever materialized or shuffled. The
    * probe join then exchanges the assigned vectors once on the cell id —
    * the IVF posting-list access pattern. Total: the corpus crosses the
    * network twice (vec_id, then cell), both on unique skew-free keys.
    */
  def ivfAnn(spark: SparkSession, sfDir: String,
             centroidMod: Int = 50, nprobe: Int = 2, k: Int = 10): DataFrame =
      annResult(spark, sfDir, s"ivf|$centroidMod|$nprobe|$k") {
    val emb = embeddings(spark, sfDir)
    val cent = broadcast(centFrame(spark, sfDir, centroidMod))
    val probes = probeCells(
      emb.filter(col("vec_id") % centroidMod === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv")),
      cent, nprobe)
    probeIndex(probes, assignedStore(spark, sfDir, centroidMod, reps = false), k)
  }

  /** IVF top-k for a CALLER-SUPPLIED query-id frame (one `q_id`
    * column, bounded by the caller — the hybrid-RRF anchor set): the
    * same assign/probe/re-rank core as [[ivfAnn]], with the query rows
    * joined from the ids instead of a stride predicate. Ids absent from
    * the embeddings table contribute no queries (inner join).
    */
  def ivfTopKFor(spark: SparkSession, sfDir: String, queryIds: DataFrame,
                 centroidMod: Int = 50, nprobe: Int = 2,
                 k: Int = 10): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val cent = broadcast(centFrame(spark, sfDir, centroidMod))
    val queries = emb.join(queryIds.select(col("q_id")),
        col("vec_id") === col("q_id"))
      .select(col("q_id"), col("v").as("qv"))
    probeIndex(probeCells(queries, cent, nprobe),
      assignedStore(spark, sfDir, centroidMod, reps = false), k)
  }

  /** Shared IVF core: assign each vector to its argmax-cosine cell, probe
    * each query's nprobe best cells, exact re-rank inside probed cells.
    * `cent` must be tiny (it is cross-joined broadcast); `isQuery`
    * selects the query rows of `emb`.
    */
  private[ops] def ivfTopK(emb: DataFrame, cent: DataFrame, isQuery: Column,
                           nprobe: Int, k: Int): DataFrame = {
    val assigned = assignCells(emb, cent)
    val probes = probeCells(
      emb.filter(isQuery).select(col("vec_id").as("q_id"), col("v").as("qv")),
      cent, nprobe)
    probeIndex(probes, assigned, k)
  }

  /** Cell assignment: argmax cosine over the (tiny, broadcast) centroid
    * table, ties to the smallest centroid id. (cs, neg_c) is unique per
    * (vector, centroid), so the trailing v never participates in the max
    * comparison — it just rides along, avoiding any re-join of the
    * corpus vectors. Output: (vec_id, cell, v).
    */
  private[ops] def assignCells(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.crossJoin(cent)
      .select(col("vec_id"),
        struct(cosMilli(col("v"), col("cv")).as("cs"),
          (-col("c_id")).as("neg_c"), col("v").as("v")).as("sc"))
      .groupBy("vec_id")
      .agg(max(col("sc")).as("best"))
      .select(col("vec_id"), (-col("best.neg_c")).as("cell"),
        col("best.v").as("v"), col("best.cs").as("cs"))

  /** The default strided-quantizer centroid frame — tiny by the capped
    * contract, shared by every default-parameter IVF consumer.
    */
  private[ops] def centFrame(spark: SparkSession, sfDir: String,
                             centroidMod: Int): DataFrame =
    capped(embeddings(spark, sfDir).filter(col("vec_id") % centroidMod === 0))
      .select(col("vec_id").as("c_id"), col("v").as("cv"))

  /** Run-lifetime cell-assignment store (the Dedup.fuzzyGraphStore
    * pattern on the ANN side): the (vec_id, cell, v, cs) assignment of
    * the corpus — or of its exact-vector representatives — against the
    * default strided quantizer is ONE artifact per corpus snapshot;
    * the IVF probe, the balance/purity/OOD audits, the persisted-index
    * builds, SemDeDup, the kNN graph and the sweeps all consume the
    * same table, exactly as one deployed index serves many workloads.
    * Parameters: centroid stride, reps-or-full. The trained-quantizer
    * path (ivfKmeans) and the split-based lifecycle ops (ivfGrow, the
    * recall holdouts) keep their own assignments — different
    * quantizers or different corpora, not this artifact.
    */
  private val assignStores = graft.ArtifactStore.frames("sim.assignments")
  private[ops] def assignedStore(spark: SparkSession, sfDir: String,
                                 centroidMod: Int, reps: Boolean): DataFrame =
    assignStores.getOrBuild(spark, sfDir, Seq("embeddings"), centroidMod, reps) {
      val emb = embeddings(spark, sfDir)
      val side = if (reps) vectorRepresentatives(emb) else emb
      assignCells(side, broadcast(centFrame(spark, sfDir, centroidMod)))
        .materialized
    }

  /** Each query's nprobe best cells by centroid cosine; queries are
    * filtered BEFORE the scoring cross join, and the query vector rides
    * along so no separate query-side join is needed. Input: (q_id, qv);
    * output: (q_id, qv, cell).
    */
  private[ops] def probeCells(queries: DataFrame, cent: DataFrame,
                              nprobe: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cs").desc, col("c_id").asc)
    queries.crossJoin(cent)
      .select(col("q_id"), col("qv"), col("c_id"),
        cosMilli(col("qv"), col("cv")).as("cs"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= nprobe)
      .select(col("q_id"), col("qv"), col("c_id").as("cell"))
  }

  /** Exact re-rank inside the probed cells. Probe cells are distinct per
    * query and each vector lives in exactly one cell, so (q_id, n_id)
    * candidates are already unique — no distinct pass needed.
    * `assigned` is (cell, vec_id, v) — either freshly computed
    * (ivfTopK) or read back from the persisted bucketed index
    * (ivfIndexed, where the scan side plans with no Exchange).
    */
  private[ops] def probeIndex(probes: DataFrame, assigned: DataFrame,
                              k: Int): DataFrame = {
    val cand = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosMilli(col("qv"), col("v")).as("cos_milli"))
    val wr = Window.partitionBy("q_id").orderBy(col("cos_milli").desc, col("n_id").asc)
    cand.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("n_id"), col("cos_milli"))
      .orderBy("q_id", "rk")
  }

  /** sim_ivf_indexed: the index OUTLIVES the query. Train/assign once,
    * write (cell, vec_id, v) as parquet BUCKETED BY cell
    * (graft.sources.Bucketed), then answer the query by READING the
    * stored posting lists — the probe join's index side plans with no
    * Exchange (bucketed on the join key; PersistedIndexSpec pins that) and
    * no re-assignment scan of the corpus runs at query time. This is the
    * production ANN serving shape at 100 TB: assignment cost is paid at
    * ingest, queries touch only the probed buckets. Same quantizer and
    * parameters as `ivfAnn`, so results are identical (`sim_ivf`'s
    * oracle replays the probe).
    */
  def ivfIndexed(spark: SparkSession, sfDir: String,
                 centroidMod: Int = 50, nprobe: Int = 2, k: Int = 10): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val cent = broadcast(centFrame(spark, sfDir, centroidMod))
    val name = graft.sources.Bucketed.scopedName(spark, "graft_ivf_index")
    graft.sources.Bucketed.writeBucketed(spark,
      assignedStore(spark, sfDir, centroidMod, reps = false)
        .select("cell", "vec_id", "v"),
      name, graft.sources.Bucketed.scopedPath(spark, name), "cell", 8)
    val probes = probeCells(
      emb.filter(col("vec_id") % centroidMod === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv")),
      cent, nprobe)
    probeIndex(probes, spark.table(name), k)
  }

  /** sim_ivf_grow: the ANN index GROWS incrementally, mirroring the
    * dedup index's daily cycle — the coarse quantizer is a fixed day-one
    * artifact, the existing corpus's cell assignments are written
    * bucketed once, and each new batch assigns ONLY its own vectors
    * against the broadcast centroids and APPENDS to the stored posting
    * lists (per-vector assignment is independent, so grown == rebuilt
    * row-for-row and `sim_ivf`'s oracle replays the probe unchanged).
    * Per-day cost scales with the batch; the corpus is never
    * re-assigned. Quantizer drift over many days is the compaction
    * trigger: retrain + one full rebuild, then resume appending.
    */
  def ivfIndexedGrow(spark: SparkSession, sfDir: String,
                     centroidMod: Int = 50, nprobe: Int = 2, k: Int = 10,
                     mod: Int = 10): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val cent = capped(emb.filter(col("vec_id") % centroidMod === 0))
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val name = graft.sources.Bucketed.scopedName(spark, "graft_ivf_index_grow")
    graft.sources.Bucketed.writeBucketed(spark,
      assignCells(emb.filter(col("vec_id") % mod =!= 0), broadcast(cent))
        .select("cell", "vec_id", "v"),
      name, graft.sources.Bucketed.scopedPath(spark, name), "cell", 8)
    graft.sources.Bucketed.appendBucketed(spark,
      assignCells(emb.filter(col("vec_id") % mod === 0), broadcast(cent))
        .select("cell", "vec_id", "v"),
      name, "cell", 8)
    val probes = probeCells(
      emb.filter(col("vec_id") % centroidMod === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv")),
      broadcast(cent), nprobe)
    probeIndex(probes, spark.table(name), k)
  }

  /** IVF with a TRAINED coarse quantizer: the strided seeds of `ivfAnn`
    * refined by `rounds` Lloyd iterations, then the identical
    * assign/probe/re-rank plan (ivfTopK). Each round is one broadcast
    * argmax-assignment pass over the corpus followed by a per-cell
    * elementwise mean; the new |cells| x dim centroid table (tiny,
    * corpus-size-independent) is re-broadcast into the next round — the
    * standard distributed k-means cycle, with no driver-side collect at
    * all. The trained table is cut once: both the assignment and the
    * probe side of the final plan read it.
    *
    * Determinism: cell assignment uses the integer cosMilli with id
    * tie-break (total), and the centroid means are EXACT integer-micro
    * floor divisions (associative, partition-order independent) — so
    * the learned centroids, and therefore the results, are identical
    * run to run AND replayable by the DuckDB oracle, which chains the
    * Lloyd rounds as CTEs (the BPE/PageRank/HITS replay pattern);
    * SimilaritySpec additionally pins recall@10 against bruteForceTopK
    * ground truth.
    */
  def ivfAnnKMeans(spark: SparkSession, sfDir: String,
                   centroidMod: Int = 50, rounds: Int = 2,
                   nprobe: Int = 2, k: Int = 10): DataFrame =
      graft.Fixpoint("ivfAnnKMeans") { loop =>
    val emb = loop.cut(embeddings(spark, sfDir)) // read once, used every round
    val seeds = capped(emb.filter(col("vec_id") % centroidMod === 0))
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val cent = loop.cut(loop.iterate(seeds, rounds) { (cent, _) =>
      // .limit re-bounds the round output in-plan (a cut hides the
      // per-cell aggregate behind an RDD scan)
      val assigned = emb.crossJoin(broadcast(cent.limit(broadcastCap)))
        .select(col("vec_id"),
          struct(cosMilli(col("v"), col("cv")).as("cs"),
            (-col("c_id")).as("neg_c"), col("v").as("v")).as("sc"))
        .groupBy("vec_id")
        .agg(max(col("sc")).as("best"))
        .select((-col("best.neg_c")).as("cell"), col("best.v").as("v"))
      // per-cell elementwise mean in EXACT integer micros; empty cells
      // drop out naturally. Components quantize to floor(x * 1e6) and
      // the mean is an explicit floor division (a - pmod(a, n)) / n —
      // every step is exact integer (or a single IEEE double op) in
      // BOTH engines, so the DuckDB oracle replays the full training
      // loop as chained CTEs (the BPE/PageRank/HITS replay pattern).
      // The 1e-6 centroid quantization is far below any cosine the
      // 1e-3 cosMilli surface can distinguish.
      assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("cell"), col("pos"),
          floor(col("x") * lit(1000000.0)).cast("decimal(38,0)").as("xm"))
        .groupBy("cell", "pos")
        .agg(sum(col("xm")).as("sm"), count(lit(1)).as("n"))
        .select(col("cell"), col("pos"),
          (((col("sm") - pmod(col("sm"), col("n"))) / col("n"))
            .cast("long").cast("double") / lit(1000000.0)).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell").as("c_id"), transform(col("pm"), p => p.getField("m")).as("cv"))
    })
    ivfTopK(emb, broadcast(cent.limit(broadcastCap)),
      col("vec_id") % centroidMod === 0, nprobe, k)
  }

  /** Driver-checked ANN quality: recall@k of the
    * LSH and IVF rungs against brute-force ground truth, computed IN the
    * plan (join + count — the truth set is |Q| x k rows, trivially
    * joinable at any corpus size) and surfaced as exact integers so the
    * oracle replays it: one row per method with (n_queries, n_hits,
    * recall_milli = floor(1000 * hits / |truth|)). Turns "is the ANN any
    * good" from a test-only assertion into a correctness-gated number.
    */
  def annRecall(spark: SparkSession, sfDir: String,
                k: Int = 10, stride: Int = 50): DataFrame = {
    // ground truth is reused by both method branches — materialize once
    val truth = bruteForceTopK(spark, sfDir, k, stride)
      .select(col("q_id"), col("n_id")).materialized
    def recallOf(method: String, ann: DataFrame): DataFrame =
      truth
        .join(ann.select(col("q_id"), col("n_id")).withColumn("hit", lit(1L)),
          Seq("q_id", "n_id"), "left")
        .agg(count_distinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_truth"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
        .select(lit(method).as("method"), col("n_queries"), col("n_hits"),
          (col("n_hits") * 1000 / col("n_truth")).cast("long").as("recall_milli"))
    recallOf("ivf", ivfAnn(spark, sfDir, centroidMod = stride, k = k))
      .union(recallOf("lsh",
        lshAnn(spark, sfDir, k = k).filter(col("q_id") % stride === 0)))
      // the compressed-scan rung: how much top-k quality survives the
      // 8-bits-per-subspace code (PQ trades recall for a 32x smaller
      // scan; the gate quantifies the trade per corpus)
      .union(recallOf("pq", pqAnn(spark, sfDir, queryMod = stride, k = k)))
      // the PRODUCTION serving shape: PQ scoring inside the probed IVF
      // cells — recall compounds both approximations (cell pruning AND
      // code quantization), so it gets its own gate row
      .union(recallOf("ivf_pq", ivfPqAnn(spark, sfDir, centroidMod = stride, k = k)))
      .orderBy("method")
  }

  /** Random-hyperplane LSH ANN: `nBits`-bit sign signature per band,
    * candidates = same (band, signature) bucket, exact cosine re-rank
    * within bucket, top-k per query. Every vector is a query; the
    * output relation is over the FULL corpus, duplicates included.
    *
    * Hyperplanes are pseudo-random but deterministic: component d of
    * plane (band,bit) = h60("band:bit:d") scaled to [-1,1). Deterministic
    * => reproducible across runs AND expressible to the oracle.
    *
    * Scale shape: computed over exact-content REPRESENTATIVES and
    * expanded back to copies EXACTLY — unlike the multiprobe rung
    * (whose registered contract is the rep corpus), this query's
    * contract is the full corpus, and the expansion reconstructs it
    * without approximation. Identical vectors share identical
    * signatures, so (q, n) collide iff (rep(q), rep(n)) collide — the
    * candidate SET is a function of reps alone; a dup-heavy corpus
    * multiplies every bucket AND every query by its copy count, so the
    * pre-collapse bucket join grew with copies SQUARED inside each
    * bucket (measured 26.6x at the 10x dup-replica bench, the suite's
    * worst ratio). Exactness of the reconstruction, both by the
    * (cos_milli DESC, n_id ASC) rank order:
    *  - per colliding rep pair only the n-rep's k smallest copy ids
    *    can reach the top-k (equal cos => smaller ids dominate), so
    *    each rep carries its k+1 smallest copies (k for cross-rep,
    *    +1 to absorb self-exclusion on the same-rep path);
    *  - a rep outside the rep-level top-k (ranked cos DESC, rep_id
    *    ASC — rep_id IS the min copy id) cannot contribute: each of
    *    the k reps ahead of it contributes >= 1 strictly-better
    *    neighbor (greater cos, or equal cos with min id below the
    *    dropped rep's minimum).
    * Candidate volume per query after expansion is <= k*(k+1) + k+1
    * rows — the final per-query rank window is O(k^2)-bounded, and
    * every shuffle is linear in |reps| or |corpus|, never in copy
    * pairs. Copies inherit their representative's neighbor list at
    * equal cost to serving any other row — the serve-over-dedup shape.
    */
  def lshAnn(spark: SparkSession, sfDir: String,
             nBits: Int = 8, nBands: Int = 4, k: Int = 10, dim: Int = 64): DataFrame =
      annResult(spark, sfDir, s"lsh|$nBits|$nBands|$k|$dim") {
    val emb = embeddings(spark, sfDir)
    val reps = vectorRepresentatives(emb)
      .select(col("vec_id").as("rep_id"), col("v")).materialized
    // every vector with its representative: one shuffle on the vector value
    val copies = emb.join(reps.withColumnRenamed("rep_id", "r_id"), Seq("v"))
      .select(col("r_id").as("rep_id"), col("vec_id")).materialized
    // k+1 smallest copy ids per rep — a per-key bounded cut (linear local
    // sort per rep; only these ids can ever appear in any top-k)
    val wCopy = Window.partitionBy("rep_id").orderBy(col("vec_id").asc)
    val topCopies = copies.withColumn("cn", row_number().over(wCopy))
      .filter(col("cn") <= k + 1)
      .groupBy("rep_id")
      .agg(sort_array(collect_list(col("vec_id"))).as("copy_ids"))
    // rep-level LSH candidates — the quadratic-in-copies join now runs
    // over distinct vectors only
    val bucketed = lshBucketsFrom(reps.withColumnRenamed("rep_id", "vec_id"),
      nBits, nBands, dim)
    val q = bucketed
      .select(col("vec_id").as("q_rep"), col("v").as("qv"), col("band"), col("sig"))
    val repCand = bucketed.join(q, Seq("band", "sig"))
      .filter(col("vec_id") =!= col("q_rep"))
      .select(col("q_rep"), col("vec_id").as("n_rep"),
        cosMilli(col("qv"), col("v")).as("cos_milli"))
      .distinct() // a pair can collide in several bands; score is deterministic
    val wRep = Window.partitionBy("q_rep").orderBy(col("cos_milli").desc, col("n_rep").asc)
    val repTopK = repCand.withColumn("rr", row_number().over(wRep))
      .filter(col("rr") <= k).select("q_rep", "n_rep", "cos_milli")
    // same-rep neighbors score as the rep's self-cosine — the identical
    // expression the pre-collapse pair computed on two equal arrays
    val selfCos = reps.select(col("rep_id"),
      cosMilli(col("v"), col("v")).as("cos_milli"))
    val queries = copies.select(col("vec_id").as("q_id"), col("rep_id").as("q_rep"))
    val crossN = queries.join(repTopK, Seq("q_rep"))
      .join(topCopies.withColumnRenamed("rep_id", "n_rep"), Seq("n_rep"))
      .select(col("q_id"), explode(col("copy_ids")).as("n_id"), col("cos_milli"))
    val sameN = queries
      .join(topCopies.withColumnRenamed("rep_id", "q_rep"), Seq("q_rep"))
      .join(selfCos.withColumnRenamed("rep_id", "q_rep"), Seq("q_rep"))
      .select(col("q_id"), explode(col("copy_ids")).as("n_id"), col("cos_milli"))
      .filter(col("n_id") =!= col("q_id"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_milli").desc, col("n_id").asc)
    crossN.unionAll(sameN).withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("n_id"), col("cos_milli"))
      .orderBy("q_id", "rk")
  }

  /** The pre-collapse lshAnn form — full-corpus bucket join, copies
    * pairing quadratically — kept ONLY as the equivalence reference for
    * SimilaritySpec's dup-heavy corpus test: the rep-collapsed lshAnn
    * must reproduce this relation bit-for-bit (it is also what the
    * registered DuckDB oracle encodes, but the harness corpora carry no
    * duplicate vectors, so the spec supplies the corpus that exercises
    * the expansion paths).
    */
  private[graft] def lshAnnNaive(spark: SparkSession, sfDir: String,
      nBits: Int = 8, nBands: Int = 4, k: Int = 10, dim: Int = 64): DataFrame = {
    val bucketed = lshBuckets(spark, sfDir, nBits, nBands, dim)
    val q = bucketed
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("band"), col("sig"))
    val cand = bucketed.join(q, Seq("band", "sig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosMilli(col("qv"), col("v")).as("cos_milli"))
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(col("cos_milli").desc, col("n_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("n_id"), col("cos_milli"))
      .orderBy("q_id", "rk")
  }

  /** sim_lsh_multiprobe: multiprobe LSH ANN (Lv et al. 2007) — the
    * recall lever that does NOT cost more hash tables: besides its own
    * bucket, each query probes every bucket at hamming distance 1 from
    * its signature (flip each of the nBits plane signs), because a
    * near-neighbor that missed the bucket most likely sits just across
    * ONE hyperplane. Candidate reach grows (nBits+1)x per band while
    * the stored index is unchanged — the standard trade against
    * doubling nBands when memory, not query CPU, is the binding
    * constraint at 100 TB.
    *
    * Runs over exact-content REPRESENTATIVES on both sides (the
    * dedup_embedding discipline): identical vectors share identical
    * signatures, so a dup-heavy corpus multiplies every bucket AND
    * every query by its copy count — measured 98x at the 10x
    * dup-replica probe before the collapse, ~1x after (copies add
    * nothing an identical vector didn't already contribute; they
    * inherit their representative's neighbor list through
    * emb_exact_dups, the production serve-over-dedup shape).
    *
    * Scale shape: the lshAnn bucket join with a 36-row probe fan-out
    * per representative (nBands x (nBits+1)); the per-query top-k
    * window is bounded by candidate volume. `maxFlips = 0` degrades to
    * the exact-signature probe on the same representative corpus —
    * the controlled baseline SimilaritySpec uses to pin POINTWISE
    * recall dominance (per-rank cosine never worse, more ranks
    * filled). Output: (q_id, rk, n_id, cos_milli).
    */
  def lshMultiprobe(spark: SparkSession, sfDir: String,
                    nBits: Int = 8, nBands: Int = 4, k: Int = 10,
                    dim: Int = 64, maxFlips: Int = 8): DataFrame = {
    val bucketed = lshBucketsFrom(
      vectorRepresentatives(embeddings(spark, sfDir)), nBits, nBands, dim)
    val probes = bucketed
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("band"), col("sig"))
      .withColumn("f", explode(array(
        (Seq(-1) ++ (0 until math.min(nBits, maxFlips))).map(lit(_)): _*)))
      .select(col("q_id"), col("qv"), col("band"),
        when(col("f") === -1, col("sig"))
          .otherwise(expr("sig ^ shiftleft(cast(1 as bigint), f)")).as("sig"))
    val cand = bucketed.join(probes, Seq("band", "sig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosMilli(col("qv"), col("v")).as("cos_milli"))
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(col("cos_milli").desc, col("n_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("n_id"), col("cos_milli"))
      .orderBy("q_id", "rk")
  }

  /** Per-label centroid statistics — the embedding-column monitoring
    * aggregate (class balance + per-dimension means: distribution-drift
    * detection, IVF seeding diagnostics, embedding-version regression
    * checks). One narrow posexplode (x dim) and one shuffle on
    * (label, dim); partial aggregation bounds shuffle volume at
    * |labels| x dim rows per partition regardless of corpus size.
    *
    * Float sums are NOT associative, so a naive mean would depend on
    * partition order; each element is integerized FIRST
    * (floor(v * 1e6) — identical double math in both engines) and the
    * integer micros are summed — order-independent, overflow-safe to
    * ~9e12 vectors per (label, dim), and bit-identical cross-engine.
    * The mean uses exact floor division (pmod guard: `div` truncates
    * toward zero, sums can be negative).
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "embeddings")
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("label"), col("i").cast("long").as("i"),
        floor(col("v").cast("double") * lit(1000000L)).as("micros"))
      .groupBy("label", "i")
      .agg(count(lit(1)).as("n"), sum(col("micros")).as("s"))
      .select(col("label"), col("i"), col("n"),
        expr("(s - pmod(s, n)) div n").as("mean_micros"))
      .orderBy("label", "i")

  /** emb_dim_stats: per-dimension embedding distribution audit — the
    * cheap drift alarm an embedding pipeline runs per snapshot: when
    * the upstream encoder changes (version bump, quantization, a bad
    * export), per-dimension means and variances shift long before any
    * downstream metric notices, and a dimension with near-zero
    * variance is dead weight every ANN distance pays for. All
    * integral: micros per element, exact floor-division mean (the
    * labelCentroids pmod discipline), variance via the
    * (n*sumsq - s^2)/n^2 identity with DECIMAL(38,0) accumulators
    * (the numerator is Cauchy-Schwarz nonnegative, so floor == trunc
    * on both engines).
    *
    * Scale shape: one posexplode scan, one dim-keyed aggregate with
    * map-side partials — |dims| output rows at any corpus size.
    *
    * Output: (i, n, mean_micros, var_micros2, min_micros, max_micros)
    * per dimension, ordered by i.
    */
  def dimStats(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("i").cast("long").as("i"),
        floor(col("v").cast("double") * lit(1000000L)).as("micros"))
      .groupBy("i")
      .agg(count(lit(1)).as("n"),
        sum(col("micros")).as("s"),
        sum((col("micros") * col("micros")).cast("decimal(38,0)")).as("sq"),
        min(col("micros")).as("min_micros"),
        max(col("micros")).as("max_micros"))
      .select(col("i"), col("n"),
        expr("(s - pmod(s, n)) div n").as("mean_micros"),
        expr("(cast(n as decimal(38,0)) * sq - cast(s as decimal(38,0)) * s) " +
          "div (cast(n as decimal(38,0)) * n)").as("var_micros2"),
        col("min_micros"), col("max_micros"))
      .orderBy("i")

  /** emb_triplet_mining: contrastive training-pair mining (the
    * batch-hard recipe, Schroff et al. 2015 FaceNet §3.2 applied
    * corpus-side): for each strided anchor, the hardest POSITIVE (the
    * same-label vector with LOWEST cosine — the pull the loss must
    * close) and the hardest NEGATIVE (the other-label vector with
    * HIGHEST cosine — the push), with the margin between them. A
    * negative margin marks a violated triplet: the signal that decides
    * whether an embedding model needs another fine-tune round, and the
    * mined pairs ARE its training data. This is the embedding-side twin
    * of the teacher-student distillation rung: the corpus engine
    * manufactures supervision, not just filters.
    *
    * Scale shape: identical to sim_bruteforce — the strided anchor set
    * is bounded and broadcast, the corpus streams past once, and the
    * per-anchor extremes are ONE min/max-struct aggregation (map-side
    * combinable; no rank window, no per-anchor sort). Ties break on
    * vec_id via the struct's second field. Anchors lacking a same-label
    * or other-label counterpart are dropped (no denominator).
    *
    * Output: (q_id, pos_id, pos_cos_milli, neg_id, neg_cos_milli,
    * margin_milli), ordered by q_id.
    */
  def tripletMining(spark: SparkSession, sfDir: String,
                    stride: Int = 50): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val anchors = capped(emb.filter(col("vec_id") % stride === 0))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"))
    val scored = emb.join(broadcast(anchors), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("label"),
        col("vec_id").as("n_id"), cosMilli(col("qv"), col("v")).as("cos_milli"))
    scored.groupBy("q_id")
      .agg(
        min(when(col("label") === col("q_label"),
          struct(col("cos_milli"), col("n_id")))).as("pos"),
        min(when(col("label") =!= col("q_label"),
          struct((-col("cos_milli")).as("neg_cos"), col("n_id")))).as("neg"))
      .filter(col("pos").isNotNull && col("neg").isNotNull)
      .select(col("q_id"),
        col("pos.n_id").as("pos_id"), col("pos.cos_milli").as("pos_cos_milli"),
        col("neg.n_id").as("neg_id"), (-col("neg.neg_cos")).as("neg_cos_milli"))
      .withColumn("margin_milli", col("pos_cos_milli") - col("neg_cos_milli"))
      .orderBy("q_id")
  }

  /** Scalar int8 quantization report — the vector-COMPRESSION rung of
    * the embedding family (ANN finds neighbors; quantization is how
    * 100 TB of float32 vectors fit storage/memory at 4x less): each
    * vector is integerized to micros, scaled to [-127, 127] by its own
    * max-abs, dequantized, and the reconstruction error reported
    * per vector. Every step is INTEGER math on non-negative magnitudes
    * with the sign reapplied (truncating and flooring division agree on
    * non-negatives, so Spark `div` and the oracle's `//` match exactly
    * — the centroid query's pmod trick is unnecessary here). Zero
    * shuffle: per-row HOFs, then the presentation sort.
    *
    * Output: (vec_id, scale_micros, sum_err_micros, max_err_micros) —
    * the audit that decides whether int8 (vs f16/int4) is acceptable
    * for a given corpus.
    */
  def quantizeInt8Report(spark: SparkSession, sfDir: String): DataFrame = {
    val vm = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000000L)).cast("long"))
    val scale = array_max(transform(col("vm"), abs(_)))
    def sgn(c: Column): Column = when(c < 0L, -1L).otherwise(1L)
    // q in [-127, 127]; dequantized back to micros at the same scale
    val recon = transform(col("vm"), v =>
      when(col("scale") === 0L, lit(0L)).otherwise(
        sgn(v) * (((abs(v) * 127L) / col("scale")).cast("long") * col("scale") / 127L)
          .cast("long")))
    table(spark, sfDir, "embeddings")
      .select(col("vec_id"), vm.as("vm"))
      .withColumn("scale", scale)
      .withColumn("errs",
        zip_with(col("vm"), recon, (a, b) => abs(a - b)))
      .select(col("vec_id"), col("scale").as("scale_micros"),
        aggregate(col("errs"), lit(0L), (acc, e) => acc + e).as("sum_err_micros"),
        array_max(col("errs")).as("max_err_micros"))
      .orderBy("vec_id")
  }

  /** emb_gram: exact Gram (uncentered covariance) matrix over the int8
    * quantized embeddings — G[i,j] = Σ_v q_i(v)·q_j(v), upper triangle.
    * The Gramian is the first artifact of every linear embedding-space
    * analysis (PCA / whitening / low-rank energy audits: RowMatrix's
    * computeGramianMatrix is this exact one-pass shape); quantizing to
    * int8 FIRST ([[quantizeInt8Report]]'s scheme verbatim) makes every
    * entry an exact integer both engines reproduce bit-for-bit, and is
    * what a 100 TB deployment does anyway — the Gram of the compressed
    * vectors audits the representation actually being served.
    *
    * Scale shape: each row expands to its dim(dim+1)/2 upper-triangle
    * products in-row (nested indexed `transform` + one explode), then
    * ONE hash aggregation on (di,dj) — 2,080 keys at dim 64 — whose
    * map-side partials collapse every input partition to 2,080 rows
    * before the exchange: the shuffle is O(partitions·dim²), constant
    * in corpus size. Long bounds: |q|≤127 so each product ≤16,129 and
    * the sum stays < 2^63 up to ~5·10^14 vectors. No joins, no window,
    * nothing driver-side.
    *
    * Output: (di, dj, n_vecs, g) for 0 ≤ di ≤ dj < dim, ordered.
    *
    * Served from a run-lifetime artifact store (the bm25Store pattern):
    * the Gramian is a pure corpus artifact — every linear analysis of
    * one embedding snapshot (emb_gram, the pcaPower iteration, the
    * ABTT audit) consumes the SAME dim²/2-row table, so the first
    * caller per (application, corpus content, checkpoint mode) pays
    * the corpus pass and later callers read the checkpointed rows.
    */
  def int8Gram(spark: SparkSession, sfDir: String): DataFrame =
    gramStore(spark, sfDir).orderBy("di", "dj")

  /** Run-lifetime ANN RESULT store: each serving rung's top-k frame is
    * a pure function of (corpus, method parameters), so the standalone
    * query, the recall gate and the sweeps share ONE build per run —
    * the materialize-once-serve-many contract of the other artifact
    * stores. The tag carries the method with every parameter.
    * Caller-supplied-workload variants (`*For`) stay
    * unstored — their query frame is not keyable.
    */
  private val annResultStores = graft.ArtifactStore.frames("sim.annResults")
  private def annResult(spark: SparkSession, sfDir: String, tag: String)
                       (build: => DataFrame): DataFrame =
    annResultStores.getOrBuild(spark, sfDir, Seq("embeddings"), tag) {
      build.materialized
    }

  private val gramStores = graft.ArtifactStore.frames("sim.gram")
  private[graft] def gramStore(spark: SparkSession, sfDir: String): DataFrame =
    gramStores.getOrBuild(spark, sfDir, Seq("embeddings")) {
      int8GramUncached(spark, sfDir).materialized
    }

  private def int8GramUncached(spark: SparkSession, sfDir: String): DataFrame =
    // ONE narrow global aggregate: quantization + the per-row triangle
    // accumulate run inside the native GramTriangleAgg buffer (exact
    // oracle arithmetic — see its scaladoc), so a partition ships one
    // packed long[2081] instead of 2,080 struct rows PER VECTOR into a
    // hash aggregate (416M exploded rows / 154.6 s at the 100x probe
    // under the prior HOF + explode formulation)
    table(spark, sfDir, "embeddings")
      .agg(graft.functions.GramSketch.triangle(col("embedding")).as("t"))
      .select(explode(col("t")).as("e"))
      .select(col("e.di"), col("e.dj"), col("e.n_vecs"), col("e.g"))

  /** emb_pca_power: dominant principal direction of the embedding
    * space by POWER ITERATION over the [[int8Gram]] Gramian — the
    * anisotropy audit behind mean-centering / "all-but-the-top"
    * post-processing (Mu & Viswanath 2018): a corpus whose vectors
    * crowd one dominant direction wastes cosine resolution, and this
    * rung surfaces that direction plus how fast iteration converges to
    * it. All arithmetic is exact-integer so the oracle replays it:
    * the Gram entry is mean-scaled (g div n_vecs, bounded by 127^2 =
    * 16,129 at ANY corpus size — the rescale that keeps products in
    * BIGINT forever), the vector lives in milli units, and each step
    * rescales by the max-abs component. Signed integer division is
    * safe here: Spark `div` and DuckDB `//` BOTH truncate toward zero
    * (verified -7/2 -> -3 in each), and the rescale additionally
    * sign-decomposes so every division runs on non-negative operands.
    *
    * Scale shape: ONE corpus pass (the Gram aggregation); everything
    * after is dim^2-row arithmetic — each of the `iters` steps is a
    * hash join of the 4,096-row mirrored Gram against the 64-row
    * vector plus a 1-row max-abs broadcast. The Gram is
    * localCheckpoint'd so iterations never re-touch the corpus, the
    * same persisted-handle discipline as the CC/PageRank loops. No
    * driver-side convergence action: the iteration count is fixed, so
    * the whole loop is plan construction.
    *
    * Output: (it, dim_idx, v_milli) for it = 1..iters — successive
    * normalized iterates; consecutive near-equal rows mean the
    * spectral gap is large and the top direction is trustworthy.
    */
  def pcaPower(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame =
      annResult(spark, sfDir, s"pca|$iters") {
    val gU = gramStore(spark, sfDir)
      .withColumn("gm", expr("g div n_vecs"))
    val full = gU.select(col("di").as("i"), col("dj").as("j"), col("gm"))
      .unionAll(gU.filter(col("di") =!= col("dj"))
        .select(col("dj").as("i"), col("di").as("j"), col("gm")))
      .materialized
    val dims = full.select(col("i").as("j")).distinct()
    var v = dims.withColumn("v", lit(1000L))
    val steps = (1 to iters).map { it =>
      val gv = full.join(v, Seq("j"))
        .groupBy("i").agg(sum(col("gm") * col("v")).as("num"))
      val mx = gv.agg(max(abs(col("num"))).as("mx"))
      v = gv.crossJoin(broadcast(mx))
        .select(col("i").as("j"),
          when(col("mx") === 0L, lit(0L))
            .otherwise(expr("(CASE WHEN num < 0 THEN -1 ELSE 1 END) * " +
              "((1000 * abs(num)) div mx)")).as("v"))
        .materialized
      v.select(lit(it.toLong).as("it"), col("j").as("dim_idx"), col("v").as("v_milli"))
    }
    steps.reduce(_.unionAll(_)).orderBy("it", "dim_idx")
  }

  /** emb_abtt: the "all-but-the-top" audit (Mu & Viswanath 2018) —
    * for every vector, what fraction of its energy lies along the
    * corpus's dominant direction ([[pcaPower]]'s converged iterate).
    * ABTT post-processing subtracts that component because an
    * anisotropic embedding space wastes cosine resolution; this audit
    * is the per-vector signal that says whether the correction is
    * worth applying and which vectors it would change most:
    *
    *   energy_ppm = (q·u)^2 · 10^6 div (|q|^2 · |u|^2)
    *
    * — exact cosine-squared in ppm, all integers (DECIMAL(38,0) /
    * HUGEINT for the product: (q·u)^2 reaches ~6.6e13 and the ppm
    * numerator would overflow BIGINT).
    *
    * Scale shape: one corpus pass builds the direction (the Gram +
    * dim^2 iteration of pcaPower, served from the run-lifetime store),
    * then ONE more NARROW pass projects every vector: the converged
    * 64-row direction is collected to the driver (dimension-bounded —
    * the sanctioned 1-row/seasonal-baseline collect class) and folded
    * into the plan as an array literal, so dot_u and |q|^2 are native
    * codegen'd DotProduct folds per row — no posexplode, no join, no
    * per-vector aggregation. The double fold is EXACT here: every
    * intermediate (|dot_u| <= 64*127*1000 ~ 8.1e6, qq <= 64*127^2 ~
    * 1.0e6) is an integer far below 2^53.
    *
    * Output: (vec_id, dot_u, energy_ppm), ordered.
    */
  def abttAudit(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame = {
    val uRows = pcaPower(spark, sfDir, iters)
      .filter(col("it") === iters.toLong)
      .select(col("dim_idx").as("d"), col("v_milli").as("u"))
      .orderBy("d")
      .collect() // dim-bounded (64 rows)
    val uArr = uRows.map(_.getLong(1).toDouble)
    val uuVal = uRows.map(r => r.getLong(1) * r.getLong(1)).sum
    val vm = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000000L)).cast("long"))
    val scale = array_max(transform(col("vm"), abs(_)))
    def sgn(c: Column): Column = when(c < 0L, -1L).otherwise(1L)
    val q = transform(col("vm"), v =>
      when(col("scale") === 0L, lit(0.0))
        .otherwise((sgn(v) * ((abs(v) * 127L) / col("scale")).cast("long"))
          .cast("double")))
    table(spark, sfDir, "embeddings")
      .select(col("vec_id"), vm.as("vm"))
      .withColumn("scale", scale)
      .select(col("vec_id"), q.as("q"))
      .select(col("vec_id"),
        dot(col("q"), lit(uArr)).cast("long").as("dot_u"),
        dot(col("q"), col("q")).cast("long").as("qq"))
      .select(col("vec_id"), col("dot_u"),
        when(col("qq") > 0L && lit(uuVal) > 0L,
          expr(s"CAST((CAST(dot_u AS DECIMAL(38,0)) * dot_u * 1000000) div " +
            s"(qq * ${uuVal}L) AS BIGINT)"))
          .otherwise(lit(0L)).as("energy_ppm"))
      .orderBy("vec_id")
  }

  /** sim_semdedup: SEMANTIC dedup — drop every vector that has a
    * sufficiently-cosine-similar, smaller-id neighbor in its own coarse
    * cell (SemDeDup, Abbas et al. 2023: cluster, then prune near-copies
    * WITHIN clusters only — never across the corpus). Reuses the IVF
    * quantizer (`assignCells`, same strided centroids as sim_ivf), so
    * the cluster structure is the one the ANN family already pays for.
    *
    * Scale shape: the within-cell self-join is quadratic in CELL size,
    * not corpus size — the centroid count grows with the corpus
    * (vec_id % centroidMod keeps expected cell size ~centroidMod
    * regardless of N), so per-cell work is bounded by design. Two
    * guards make that hold on a dup-heavy crawl: bit-identical vectors
    * collapse to one representative BEFORE pairing
    * (`vectorRepresentatives` — copies would otherwise inflate a cell
    * quadratically), and the pair join runs on the cell key where AQE
    * splits any residual hot cell. Dropped copies are reported by
    * emb_exact_dups; this rung prunes DISTINCT-but-semantically-equal
    * vectors the exact rung cannot see.
    *
    * Output: one row per dropped representative — (vec_id, cell,
    * keeper_id, cos_milli to that keeper); keeper is the smallest
    * qualifying same-cell id, ties on cosine broken by id.
    */
  def semDedup(spark: SparkSession, sfDir: String,
               centroidMod: Int = 50, tauMilli: Long = 400): DataFrame = {
    val assigned = assignedStore(spark, sfDir, centroidMod, reps = true)
    val a = assigned.select(col("cell"), col("vec_id").as("a_id"), col("v").as("av"))
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"), col("v").as("bv"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .select(col("cell"), col("b_id").as("vec_id"), col("a_id"),
        cosMilli(col("av"), col("bv")).as("cs"))
      .filter(col("cs") >= tauMilli)
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(struct(col("a_id").as("keeper_id"), col("cs"))).as("k"))
      .select(col("vec_id"), col("cell"),
        col("k.keeper_id").as("keeper_id"), col("k.cs").as("cos_milli"))
      .orderBy("vec_id")
  }

  /** sim_nprobe_sweep: recall-vs-nprobe calibration for IVF serving —
    * the tuning table read before a 100 TB deployment picks its probe
    * width, exactly as [[graft.ops.Dedup.bandingSweep]] prices
    * (bands, rows) for MinHash: each extra probed cell buys recall and
    * costs a cell scan, and the knee is an empirical property of the
    * data, not a formula. One candidate pass scores every (query,
    * neighbor) pair carrying the PROBE RANK of its cell; a row then
    * fans out only to the sweep points that would include it
    * (sequence(prk, maxNprobe)), so the grid costs |candidates| x
    * avg-fanout, never a re-probe per sweep point. Ground truth is the
    * exact brute-force top-k over the same strided queries; recall is
    * hits against it in exact millis.
    *
    * Output: (nprobe, n_queries, n_hits, recall_milli), one row per
    * sweep point (measured at sf0.01: 910 milli at nprobe 1, 960 from
    * nprobe 2 on — the plateau that justifies the family's nprobe=2
    * default, and shows the last 4% lives outside the probed cells,
    * i.e. needs a re-train, not more probes).
    */
  def nprobeSweep(spark: SparkSession, sfDir: String, centroidMod: Int = 50,
                  maxNprobe: Int = 4, k: Int = 10): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val cent = broadcast(centFrame(spark, sfDir, centroidMod))
    val assigned = assignedStore(spark, sfDir, centroidMod, reps = false)
    val queries = emb.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wp = Window.partitionBy("q_id").orderBy(col("ccs").desc, col("c_id").asc)
    val probes = queries.crossJoin(cent)
      .select(col("q_id"), col("qv"), col("c_id"),
        cosMilli(col("qv"), col("cv")).as("ccs"))
      .withColumn("prk", row_number().over(wp))
      .filter(col("prk") <= maxNprobe)
      .select(col("q_id"), col("qv"), col("c_id").as("cell"), col("prk"))
    val cand = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("prk"), col("vec_id").as("n_id"),
        cosMilli(col("qv"), col("v")).as("cs"))
    val grid = cand
      .withColumn("np", explode(sequence(col("prk"), lit(maxNprobe))))
      .withColumn("np", col("np").cast("long"))
    val wr = Window.partitionBy("np", "q_id")
      .orderBy(col("cs").desc, col("n_id").asc)
    val topk = grid.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
    val truth = bruteForceTopK(spark, sfDir, k, centroidMod)
      .select(col("q_id"), col("n_id"))
    val nq = truth.agg(count_distinct(col("q_id")).as("n_queries"))
    topk.join(truth, Seq("q_id", "n_id"), "left_semi")
      .groupBy("np").agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("np").as("nprobe"), col("n_queries"), col("n_hits"),
        expr(s"(1000 * n_hits) div (${k}L * n_queries)").as("recall_milli"))
      .orderBy("nprobe")
  }

  /** sim_knn_graph: k-nearest-neighbor GRAPH construction over the
    * embedding corpus — the batch primitive semantic clustering,
    * graph-based dedup and HNSW-style index builds all consume (each
    * wants "every vector's k closest peers", not one query's top-k).
    * Neighbors are cell-local: the same coarse quantizer the ANN family
    * pays for (`assignCells`, the sim_ivf strided centroids) buckets
    * the corpus, and each representative keeps its k best same-cell
    * peers by exact cosine — the SemDeDup clustering discipline (Abbas
    * et al. 2023) applied to graph building.
    *
    * Scale shape: identical to [[semDedup]] — bit-identical vectors
    * collapse to representatives BEFORE pairing, the self-join is
    * quadratic in CELL size only (expected cell size is fixed by
    * construction as the corpus grows), and AQE splits residual hot
    * cells. The per-source top-k runs as a row_number window whose
    * partitions are bounded by cell size — never a corpus-wide sort.
    * Vectors alone in their cell emit no rows (an honest recall gap the
    * ivfBalance audit prices; production raises nprobe or re-trains).
    *
    * Output: (vec_id, rk, n_id, cos_milli) — each representative's
    * ranked neighbor list, rk 1..k, ties on cosine broken by id.
    */
  def knnGraph(spark: SparkSession, sfDir: String,
               centroidMod: Int = 50, k: Int = 5): DataFrame = {
    val assigned = assignedStore(spark, sfDir, centroidMod, reps = true)
    val a = assigned.select(col("cell"), col("vec_id").as("src"), col("v").as("sv"))
    val b = assigned.select(col("cell"), col("vec_id").as("n_id"), col("v").as("nv"))
    val scored = a.join(b, Seq("cell"))
      .filter(col("src") =!= col("n_id"))
      .select(col("src"), col("n_id"), cosMilli(col("sv"), col("nv")).as("cos_milli"))
    val w = Window.partitionBy("src")
      .orderBy(col("cos_milli").desc, col("n_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("src").as("vec_id"), col("rk").cast("long").as("rk"),
        col("n_id"), col("cos_milli"))
      .orderBy("vec_id", "rk")
  }

  /** emb_cell_purity: label purity per quantizer cell — the clustering
    * QUALITY audit beside [[ivfBalance]]'s load audit: balance says the
    * cells are evenly sized, purity says they are semantically
    * coherent (vectors sharing a cell share a label). A pure, balanced
    * quantizer is what makes cell-local operations (SemDeDup pruning,
    * the kNN graph, IVF recall) trustworthy; a cell at coin-flip
    * purity says its members are strangers and everything cell-local
    * under-delivers there. Per cell: size, majority label (ties to the
    * smallest), its count, purity in millis.
    *
    * Scale shape: the sim_ivf broadcast-centroid assignment, one
    * id-keyed label join, one (cell, label) map-side-combinable count,
    * argmax via max(struct) over the bounded per-cell label rows —
    * never a window over vectors. Output ordered by cell.
    */
  def cellPurity(spark: SparkSession, sfDir: String,
                 centroidMod: Int = 50): DataFrame = {
    val raw = table(spark, sfDir, "embeddings")
    assignedStore(spark, sfDir, centroidMod, reps = false)
      .join(raw.select(col("vec_id"), col("label").cast("long").as("label")),
        Seq("vec_id"))
      .groupBy("cell", "label")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("cell")
      .agg(sum(col("cnt")).as("n_vecs"),
        max(struct(col("cnt"), (-col("label")).as("neg"))).as("best"))
      .select(col("cell"), col("n_vecs"),
        (-col("best.neg")).as("top_label"),
        col("best.cnt").as("n_top"),
        expr("(1000 * best.cnt) div n_vecs").as("purity_milli"))
      .orderBy("cell")
  }

  /** emb_ood_audit: out-of-distribution vector detection — the third
    * leg of the quantizer triad ([[ivfBalance]] = load, [[cellPurity]]
    * = coherence, this = MEMBERSHIP): a vector whose cosine to its OWN
    * best centroid is below `tauMilli` belongs to no cell the
    * quantizer knows — a defective embedding (bad export, wrong
    * encoder version) or genuinely novel content, and either way the
    * input a retrain wants surfaced. Per cell: member count, OOD
    * count, worst member's cosine and id (argmin via min(struct) —
    * never a window over vectors).
    *
    * Scale shape: the sim_ivf broadcast-centroid assignment already
    * computes the best-cell cosine; this rides the same max(struct)
    * aggregation and adds one bounded per-cell rollup. Output: (cell,
    * n_vecs, n_ood, worst_cos_milli, worst_vec_id), ordered by cell.
    */
  def oodAudit(spark: SparkSession, sfDir: String,
               centroidMod: Int = 50, tauMilli: Long = 200L): DataFrame = {
    // the stored assignment carries each vector's best-cell cosine, so
    // the membership audit is a pure rollup over the shared artifact
    assignedStore(spark, sfDir, centroidMod, reps = false)
      .select(col("vec_id"), col("cell"), col("cs"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("cs") < tauMilli, 1L).otherwise(0L)).as("n_ood"),
        min(struct(col("cs").as("cs"), col("vec_id").as("vid"))).as("w"))
      .select(col("cell"), col("n_vecs"), col("n_ood"),
        col("w.cs").as("worst_cos_milli"), col("w.vid").as("worst_vec_id"))
      .orderBy("cell")
  }

  /** sim_ivf_balance: IVF cell-balance audit — the first operational
    * question asked of a quantizer before serving from it: probe
    * latency is governed by the HOTTEST cells (a probe scans nprobe
    * whole cells), and recall by the emptiest (a query whose true
    * neighbors sit in a skeletal cell finds nothing). Per cell: vector
    * count, corpus share, and a hot flag (cell holds >= 2x its fair
    * share — the load-balance threshold a re-train or cell-split
    * targets). Same centroids and assignment as sim_ivf, so the audit
    * describes exactly the index the probes run against.
    *
    * Scale shape: the sim_ivf broadcast-centroid assignment (one
    * corpus scan), a per-cell count (map-side combinable), and a
    * |cells|-row share window — no pairing anywhere.
    *
    * Output: (cell, n_vecs, share_milli, hot), ordered by cell.
    */
  def ivfBalance(spark: SparkSession, sfDir: String,
                 centroidMod: Int = 50): DataFrame = {
    val w = Window.partitionBy() // |cells| rows post-aggregate
    assignedStore(spark, sfDir, centroidMod, reps = false)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .withColumn("total", sum(col("n_vecs")).over(w))
      .withColumn("n_cells", count(lit(1)).over(w))
      .select(col("cell"), col("n_vecs"),
        expr("(1000 * n_vecs) div total").as("share_milli"),
        (col("n_vecs") * col("n_cells") >= col("total") * lit(2L)).as("hot"))
      .orderBy("cell")
  }

  /** sim_epsilon_sweep: SemDeDup threshold calibration — the curve a
    * corpus build reads BEFORE committing to an epsilon: for each
    * candidate cosine threshold, how many within-cell pairs clear it
    * and how many documents the semantic dedup pass would drop. Without
    * this sweep the epsilon is folklore; with it the drop rate is a
    * measured dial (Abbas et al. tune epsilon per corpus exactly this
    * way). Cells and pair scoring are IDENTICAL to `semDedup` (same
    * centroids, same representative collapse, same cosMilli), so the
    * chosen threshold transfers 1:1 to the production pass.
    *
    * Scale shape: pair generation is semDedup's — quadratic in CELL
    * size only, representatives only. The sweep itself never re-scans
    * pairs per threshold: pair cosines and per-victim best-neighbor
    * cosines are bucketed once each (step-sized buckets, map-side
    * partial counts, <= 2001/step + 1 groups), and the threshold grid
    * expands against those bounded histograms plus a one-row rep-count
    * aggregate. Bucket floor semantics make "bucket >= tau" equal
    * "cs >= tau" exactly because every grid tau is a bucket boundary.
    *
    * Output: (tau_milli, n_pairs_ge, n_dropped, n_reps, drop_permille)
    * for nTaus thresholds 0, step, 2*step, ...; ordered by tau_milli.
    */
  def epsilonSweep(spark: SparkSession, sfDir: String,
                   centroidMod: Int = 50, nTaus: Int = 10,
                   stepMilli: Long = 100L): DataFrame = {
    // store-materialized: one assignment pass serves both pair sides +
    // the rep count
    val assigned = assignedStore(spark, sfDir, centroidMod, reps = true)
    val a = assigned.select(col("cell"), col("vec_id").as("a_id"), col("v").as("av"))
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"), col("v").as("bv"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .select(col("b_id"), cosMilli(col("av"), col("bv")).as("cs"))
      .materialized // one pairing pass: pair histogram + per-victim max
    def bucket(c: Column): Column =
      floor(c.cast("double") / lit(stepMilli.toDouble)).cast("long")
    val pairHist = pairs.groupBy(bucket(col("cs")).as("b"))
      .agg(count(lit(1)).as("n"))
    val vecHist = pairs.groupBy("b_id").agg(max(col("cs")).as("maxcs"))
      .groupBy(bucket(col("maxcs")).as("b")).agg(count(lit(1)).as("n"))
    val nReps = assigned.agg(count(lit(1)).as("n_reps"))
    val grid = spark.range(nTaus)
      .select((col("id") * stepMilli).cast("long").as("tau_milli"))
    def cumGe(hist: DataFrame, out: String): DataFrame =
      grid.join(broadcast(hist), col("b") * stepMilli >= col("tau_milli"), "left")
        .groupBy("tau_milli")
        .agg(coalesce(sum(col("n")), lit(0L)).cast("long").as(out))
    cumGe(pairHist, "n_pairs_ge")
      .join(cumGe(vecHist, "n_dropped"), Seq("tau_milli"))
      .crossJoin(broadcast(nReps))
      .select(col("tau_milli"), col("n_pairs_ge"), col("n_dropped"),
        col("n_reps"),
        expr("(1000 * n_dropped) div n_reps").as("drop_permille"))
      .orderBy("tau_milli")
  }

  /** pipeline_decontaminate_semantic: embedding-space decontamination —
    * the semantic complement of Dedup.decontaminate's n-gram overlap
    * gate: paraphrased or reformatted eval leakage shares no 3-gram but
    * sits next to the eval item in embedding space, so modern corpus
    * builds run BOTH checks before training. The eval suite is the
    * same `% evalMod` held-out ids as the n-gram rung, bounded to an
    * ABSOLUTE size (`maxEval` smallest — an eval benchmark is a fixed
    * artifact; a corpus-proportional "eval set" would re-quadratize
    * serving, the text_hybrid_rrf lesson). Every train vector scores
    * against the broadcast eval set in one corpus scan; the audit emits
    * each train doc's closest eval item and whether it clears the
    * leak threshold — the drop list plus the evidence, never an empty
    * relation (the flag is a column, not a filter, so the oracle hash
    * covers the whole scoring surface).
    *
    * Scale shape: one broadcast of <= maxEval vectors, one narrow
    * corpus scan, a per-train-vector window over <= maxEval rows (no
    * corpus-keyed shuffle beyond the window's partitioning), linear at
    * any corpus size.
    *
    * Output: (doc_id, best_eval_id, cos_milli, leaked) ordered by
    * doc_id; leaked = 1 iff cos_milli >= threshMilli.
    */
  def semanticDecontaminate(spark: SparkSession, sfDir: String,
                            evalMod: Int = 97, maxEval: Int = 50,
                            threshMilli: Long = 400): DataFrame = {
    val emb = embeddings(spark, sfDir)
    val eval = emb.filter(col("vec_id") % evalMod === 0)
      .orderBy("vec_id").limit(maxEval)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"))
    val scored = emb.filter(col("vec_id") % evalMod =!= 0)
      .crossJoin(broadcast(eval))
      .select(col("vec_id").as("doc_id"), col("eval_id"),
        cosMilli(col("v"), col("ev")).as("cos_milli"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("cos_milli").desc, col("eval_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("eval_id").as("best_eval_id"),
        col("cos_milli"),
        when(col("cos_milli") >= threshMilli, 1L).otherwise(0L).as("leaked"))
      .orderBy("doc_id")
  }

  /** The bounded eval-vector artifact for the streaming decontamination
    * twin: <= maxEval (eval_id, vector) pairs — the same sanctioned
    * driver-side pull discipline as the DSIR ratio map and the Bloom
    * sketch (bounded by the eval benchmark's ABSOLUTE size, never the
    * corpus).
    */
  private[graft] def evalVectors(spark: SparkSession, sfDir: String,
      evalMod: Int = 97, maxEval: Int = 50): Seq[(Long, Seq[Double])] =
    embeddings(spark, sfDir).filter(col("vec_id") % evalMod === 0)
      .orderBy("vec_id").limit(maxEval).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq

  /** The per-arrival scoring frame shared with the streaming twin: the
    * bounded eval artifact is UNROLLED into one (neg-cos, eval_id)
    * struct per eval vector and the best match picked with array_min —
    * a single stateless narrow projection per row (no join, no shuffle,
    * no window), exactly the ingest-time shape streamDsir uses for its
    * ratio map. Struct order (neg asc, id asc) = (cos desc, id asc),
    * the batch window's tie-break, so the relation is identical to
    * [[semanticDecontaminate]] — proven by the shared oracle and the
    * stream==batch spec.
    */
  private[graft] def semanticDeconFrame(emb: DataFrame,
      eval: Seq[(Long, Seq[Double])], threshMilli: Long): DataFrame = {
    val v = transform(col("embedding"), _.cast("double"))
    val cands = eval.map { case (id, ev) =>
      val evCol = array(ev.map(lit(_)): _*)
      struct((cosMilli(v, evCol) * -1).as("neg"), lit(id).as("eval_id"))
    }
    emb.select(col("vec_id").as("doc_id"),
        array_min(array(cands: _*)).as("best"))
      .select(col("doc_id"), col("best.eval_id").as("best_eval_id"),
        (col("best.neg") * -1).as("cos_milli"),
        when((col("best.neg") * -1) >= threshMilli, 1L).otherwise(0L)
          .as("leaked"))
  }

  /** sim_pq: product-quantization audit — the ANN-compression rung
    * beyond scalar int8 (`quantizeInt8Report`): split each 64-dim
    * vector into 8 subvectors of 8 dims, code each subvector by its
    * SIGN PATTERN (8 bits -> 256 codes per subspace — a deterministic
    * one-step codebook: assignment is data-independent, centroids are
    * the per-(subspace, code, dim) means), then report per-subspace
    * reconstruction error. Production PQ k-means-trains the codebooks;
    * the assignment/centroid/error plan is identical, only the
    * assignment rule changes — and the sign rule keeps the whole audit
    * exactly replayable (learned codebooks are why sim_ivf_kmeans is
    * rows-only).
    *
    * Plan: codes are computed per row with higher-order functions (no
    * shuffle); the codebook aggregation is ONE shuffle keyed by
    * (subspace, code, dim) — at most 8*256*8 = 16k groups at ANY corpus
    * size, so the codebook is always broadcastable back for the error
    * join; the final per-subspace rollup is 8 groups with map-side
    * partials. Means use the exact-floor-division pmod guard
    * (labelCentroids pattern: component sums can be negative).
    *
    * Output: 8 rows — (sub, n_codes_used, n_vecs, sum_abs_err_micros,
    * max_abs_err_micros).
    */
  /** Shared PQ plumbing: `comps` is the integerized component stream
    * (vec_id, d, xm, sub, code) — codes computed per ROW with
    * higher-order functions before the explode, so no shuffle produces
    * them — and `codebook` is the per-(subspace, code, dim) exact-mean
    * table (at most nSub * 2^subDim * subDim rows at ANY corpus size,
    * always broadcastable).
    */
  private[ops] def pqCompsAndBook(spark: SparkSession, sfDir: String,
                                  nSub: Int, subDim: Int): (DataFrame, DataFrame) = {
    val vm = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000000L)).cast("long"))
    // per-subspace sign code: bit j of code(sub) set iff component
    // sub*subDim+j is non-negative — one array fold per row, no shuffle
    val codes = transform(sequence(lit(0), lit(nSub - 1)), s =>
      aggregate(
        zip_with(slice(col("vm"), s * subDim + 1, lit(subDim)),
          sequence(lit(0), lit(subDim - 1)),
          (x, j) => when(x >= 0L, pow(lit(2.0d), j.cast("double")).cast("long"))
            .otherwise(lit(0L))),
        lit(0L), (acc, bit) => acc + bit))
    // zip (component, its subspace code) into ONE array-valued
    // expression BEFORE the explode: projection collapse would
    // otherwise inline the whole interpreted code fold into the
    // per-exploded-row projection and re-run it 64x per vector
    // (measured 34x wall at the 10x scale probe)
    val perDimCode = flatten(transform(codes, c => array_repeat(c, subDim)))
    val comps = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), vm.as("vm"))
      .select(col("vec_id"),
        posexplode(zip_with(col("vm"), perDimCode,
          (x, c) => struct(x.as("xm"), c.as("code")))).as(Seq("d", "zc")))
      .select(col("vec_id"), col("d").cast("long").as("d"),
        col("zc.xm").as("xm"),
        (col("d").cast("long") / lit(subDim)).cast("long").as("sub"),
        col("zc.code").as("code"))
    val codebook = comps.groupBy("sub", "code", "d")
      .agg(count(lit(1)).as("n"), sum(col("xm")).as("s"))
      .select(col("sub"), col("code"), col("d"),
        expr("(s - pmod(s, n)) div n").as("cm"))
    (comps, codebook)
  }

  def pqAudit(spark: SparkSession, sfDir: String,
              nSub: Int = 8, subDim: Int = 8): DataFrame = {
    val (comps, codebook) = pqCompsAndBook(spark, sfDir, nSub, subDim)
    comps.join(broadcast(codebook), Seq("sub", "code", "d"))
      .select(col("sub"), col("code"), col("vec_id"),
        abs(col("xm") - col("cm")).as("e"))
      .groupBy("sub")
      .agg(countDistinct(col("code")).as("n_codes_used"),
        countDistinct(col("vec_id")).as("n_vecs"),
        sum(col("e")).as("sum_abs_err_micros"),
        max(col("e")).as("max_abs_err_micros"))
      .orderBy("sub")
  }

  /** emb_norm_audit: embedding health check — per-label vector counts,
    * zero-vector detection, and exact-integer norm statistics (micros).
    * The audit a pipeline runs on a fresh embedding batch before
    * anything joins on cosine: zero or degenerate-norm vectors make
    * cosine undefined/unstable and usually mark an upstream encoder
    * fault. Zero shuffle except the |labels|-row rollup; the norm is a
    * per-row fold.
    *
    * Output: (label, n_vecs, n_zero, min_norm_micros, max_norm_micros,
    * sum_norm_micros).
    */
  def normAudit(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "embeddings")
      .select(col("label").cast("long").as("label"),
        floor(sqrt(dot(transform(col("embedding"), _.cast("double")),
          transform(col("embedding"), _.cast("double")))) * lit(1000000L))
          .cast("long").as("norm_micros"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("norm_micros") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("norm_micros")).as("min_norm_micros"),
        max(col("norm_micros")).as("max_norm_micros"),
        sum(col("norm_micros")).as("sum_norm_micros"))
      .orderBy("label")

  /** sim_pq_ann: asymmetric-distance (ADC) top-k over the PQ codes —
    * the SERVING path of product quantization: each query builds a
    * (subspace, code) -> partial-dot lookup table against the codebook
    * (|Q| x nSub x 2^subDim rows, corpus-size-INDEPENDENT), and a
    * corpus vector's approximate dot product is the sum of nSub table
    * hits on its codes — the full vector is never touched at query
    * time. This is a COMPRESSED linear scan (PQ's nature): per-query
    * work is linear in N like sim_bruteforce, but each item costs nSub
    * code lookups instead of a dim-wide float dot; the production
    * composition routes through IVF cells first (sim_ivf's probe
    * bounds the scanned fraction) with this LUT math inside each cell.
    *
    * Plan: the LUT join is broadcast (bounded size), partial sums
    * combine map-side into the (q_id, vec_id) aggregate, top-k by
    * row_number. Scores are exact integer micro^2 dot products of the
    * RECONSTRUCTED vectors — fully replayable by the oracle.
    *
    * Output: (q_id, rk, n_id, adc_micro2) — ties broken by n_id.
    */
  def pqAnn(spark: SparkSession, sfDir: String,
            nSub: Int = 8, subDim: Int = 8,
            queryMod: Int = 50, k: Int = 10): DataFrame =
      annResult(spark, sfDir, s"pq|$nSub|$subDim|$queryMod|$k") {
    val (comps, codebook) = pqCompsAndBook(spark, sfDir, nSub, subDim)
    val lut = comps.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("sub"), col("d"), col("xm").as("qm"))
      .join(broadcast(codebook), Seq("sub", "d"))
      .groupBy("q_id", "sub", "code")
      .agg(sum(col("qm") * col("cm")).as("p"))
    val vecCodes = comps.select(col("vec_id"), col("sub"), col("code")).distinct()
    // NO broadcast hint on the LUT: it is QUERY-proportional (|queries|
    // x sub x code rows), so forcing it into executor memory is exactly
    // the unbounded-broadcast shape capped() exists to prevent. The
    // (sub, code) equi-join lets AQE pick broadcast when the workload is
    // small and a shuffled join when it is not.
    val scored = vecCodes.join(lut, Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("p")).as("adc_micro2"), count(lit(1)).as("n_sub"))
      // a neighbor scores only if every subspace contributed (it always
      // does — its codes define the codebook — but assert in-plan)
      .filter(col("n_sub") === nSub)
    val wr = Window.partitionBy("q_id")
      .orderBy(col("adc_micro2").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"),
        col("vec_id").as("n_id"), col("adc_micro2"))
      .orderBy("q_id", "rk")
  }

  /** sim_ivf_pq: IVF-ADC — the production ANN serving composition at
    * 100 TB, joining the two halves this file already ships: the stored
    * IVF posting lists bound WHICH items a query touches (nprobe cells,
    * a fixed fraction of the corpus), and PQ's asymmetric-distance
    * lookup tables bound WHAT each touched item costs (nSub integer
    * table hits instead of a dim-wide float dot — the full vector is
    * never read at query time). `sim_ivf_indexed` re-ranks probed cells
    * with exact cosine over stored VECTORS; `sim_pq_ann` ADC-scans the
    * WHOLE corpus; this rung stores (cell, vec_id, sub, code) posting
    * lists — the index holds the 1-byte-per-subspace codes, not dim
    * floats — and serves probe + score end-to-end compressed.
    *
    * Plan: posting lists are parquet BUCKETED BY cell (same lifecycle
    * as graft_ivf_index — the probe join's index side plans with no
    * Exchange; PersistedIndexSpec pins the shape), the per-query LUT is
    * a bounded broadcast (|Q| x nSub x observed-codes, corpus-size-
    * independent per query), and both the (q_id, sub, code) hash join
    * and the (q_id, vec_id) sum combine map-side. Scores are the same
    * exact-integer micro^2 ADC dots as `sim_pq_ann`, so the DuckDB
    * oracle replays the entire composition: assignment, probe AND
    * compressed scoring.
    *
    * Output: (q_id, rk, n_id, adc_micro2) — ties broken by n_id.
    */
  def ivfPqAnn(spark: SparkSession, sfDir: String,
               centroidMod: Int = 50, nprobe: Int = 2, k: Int = 10,
               nSub: Int = 8, subDim: Int = 8): DataFrame =
      annResult(spark, sfDir, s"ivfpq|$centroidMod|$nprobe|$k|$nSub|$subDim") {
    val emb = embeddings(spark, sfDir)
    val cent = broadcast(centFrame(spark, sfDir, centroidMod))
    val (comps, codebook) = pqCompsAndBook(spark, sfDir, nSub, subDim)
    // ingest: assign cells (the stored artifact), attach each vector's
    // nSub codes, store the compressed posting lists bucketed on the
    // probe key
    val name = graft.sources.Bucketed.scopedName(spark, "graft_ivf_pq_index")
    graft.sources.Bucketed.writeBucketed(spark,
      assignedStore(spark, sfDir, centroidMod, reps = false)
        .select("cell", "vec_id")
        .join(comps.select(col("vec_id"), col("sub"), col("code")).distinct(),
          Seq("vec_id"))
        .select("cell", "vec_id", "sub", "code"),
      name, graft.sources.Bucketed.scopedPath(spark, name), "cell", 8)
    // serving: per-query (sub, code) -> partial-dot LUT (identical math
    // to pqAnn), probe cells by centroid cosine, score stored codes
    val lut = comps.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("q_id"), col("sub"), col("d"), col("xm").as("qm"))
      .join(broadcast(codebook), Seq("sub", "d"))
      .groupBy("q_id", "sub", "code")
      .agg(sum(col("qm") * col("cm")).as("p"))
    val probes = probeCells(
      emb.filter(col("vec_id") % centroidMod === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv")),
      broadcast(cent), nprobe)
      .select("q_id", "cell")
    val scored = probes.join(spark.table(name), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      // no broadcast hint: the LUT is query-proportional (see pqAnn) —
      // AQE broadcasts it only while the workload actually fits
      .join(lut, Seq("q_id", "sub", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("p")).as("adc_micro2"), count(lit(1)).as("n_sub"))
      // every stored code is in the codebook by construction, so each of
      // the nSub rows matched exactly one LUT row — assert in-plan
      .filter(col("n_sub") === nSub)
    val wr = Window.partitionBy("q_id")
      .orderBy(col("adc_micro2").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"),
        col("vec_id").as("n_id"), col("adc_micro2"))
      .orderBy("q_id", "rk")
  }

  /** emb_jl_project: Johnson–Lindenstrauss random projection with a
    * measured distance-distortion audit — the dimensionality-reduction
    * rung that sits BEFORE the ANN family: projecting dim-64 vectors to
    * m=16 with a Rademacher (±1) matrix (Achlioptas 2003,
    * "Database-friendly random projections": ±1 entries satisfy the JL
    * lemma with no Gaussian sampling, and the projection becomes integer
    * add/subtract) shrinks every downstream index — LSH signatures, IVF
    * assignment scans, PQ subspaces — by 4x while the lemma bounds the
    * pairwise-distance distortion. This rung computes the projection AND
    * measures the realized distortion on a strided pair sample, which is
    * how a deployment picks m before committing the index build.
    *
    * Everything is exact-integer so the oracle replays it bit-for-bit:
    * vectors are int8-quantized first ([[quantizeInt8Report]]'s scheme
    * verbatim — the compressed representation a 100 TB deployment
    * projects anyway), and the sign matrix is derived from the shared
    * md5 hash family (sign(j,i) = parity of h60("jl:j:i")), evaluated
    * driver-side ONCE into a constant-folded m x dim literal — per-row
    * work is integer multiply-adds, never an md5. For Rademacher signs
    * E[|y_a - y_b|^2] = m * |q_a - q_b|^2, so the audit reports
    * ratio_milli = (1000 * dp2) div (m * d2) with 1000 = distortion-free.
    *
    * Scale shape: the projection is one narrow per-row pass (O(dim * m)
    * in-row multiply-adds, no shuffle, no UDF); the audit joins the
    * 1/stride anchor sample to its +1 neighbor on an equi-key — at any
    * corpus size the audit side is a fixed fraction and AQE broadcasts
    * the strided side. Long bounds: |q| <= 127 so |y_j| <= 64*127 and
    * dp2 <= 16 * (2*8128)^2 ~ 4.2e9 per pair — BIGINT-safe forever.
    *
    * Output: (vec_a, vec_b, d2, dp2, ratio_milli) for anchors
    * vec_id % stride == 0 paired with vec_id+1, ordered; ratio_milli is
    * NULL when the quantized pair is identical (d2 = 0).
    */
  def jlProjectionAudit(spark: SparkSession, sfDir: String,
                        m: Int = 16, dim: Int = 64,
                        stride: Int = 50): DataFrame = {
    // sign matrix via the cross-engine md5 family, folded to a literal:
    // same value as h60("jl:j:i") % 2 (OracleHash.h60 = first 15 md5
    // hex chars as a 60-bit integer), computed once on the driver
    val signs: Seq[Seq[Long]] = (0 until m).map { j =>
      (0 until dim).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"jl:$j:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
        if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1L else -1L
      }
    }
    val vm = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000000L)).cast("long"))
    val scale = array_max(transform(col("vm"), abs(_)))
    def sgn(c: Column): Column = when(c < 0L, -1L).otherwise(1L)
    val q = transform(col("vm"), v =>
      when(col("scale") === 0L, lit(0L))
        .otherwise(sgn(v) * ((abs(v) * 127L) / col("scale")).cast("long")))
    val proj = transform(typedlit(signs), row =>
      aggregate(zip_with(row, col("q"), (s, qi) => s * qi), lit(0L), _ + _))
    def sq(u: Column, v: Column): Column =
      aggregate(zip_with(u, v, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)
    val base = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), vm.as("vm"))
      .withColumn("scale", scale)
      .select(col("vec_id"), q.as("q"))
      .withColumn("y", proj)
    val a = base.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("vec_a"), col("q").as("qa"), col("y").as("ya"))
    val b = base.select(col("vec_id").as("vec_b"), col("q").as("qb"),
      col("y").as("yb"))
    a.join(b, col("vec_b") === col("vec_a") + lit(1L))
      .select(col("vec_a"), col("vec_b"),
        sq(col("qa"), col("qb")).as("d2"),
        sq(col("ya"), col("yb")).as("dp2"))
      .withColumn("ratio_milli",
        when(col("d2") === 0L, lit(null).cast("long"))
          .otherwise(expr(s"(1000 * dp2) div ($m * d2)")))
      .orderBy("vec_a")
  }
}
