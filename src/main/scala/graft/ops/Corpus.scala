package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftSession.table
import graft.Materialize.MaterializeOps

/** Corpus-management operators: the steps a multi-source training-data
  * pipeline runs AROUND cleaning — merging sources by trust, and packing
  * the cleaned corpus into fixed-token-budget output shards.
  *
  * Scale stance (100 TB): both operators are shuffle-on-key with no
  * driver materialization. The shard planner's global prefix sum is the
  * distributed two-level form (per-bucket window + a tiny bucket-offset
  * table broadcast back), never a single-partition window over the
  * corpus.
  */
object Corpus {

  /** Multi-source priority merge — when several crawls/sources supply the
    * "same" document, keep the copy from the most-trusted source. Here
    * "same" is a LEAD FINGERPRINT (md5 of the first `leadTokens`
    * normalized tokens): docs that open identically are near-certain
    * re-crawls or template variants, the case a pure content-hash merge
    * misses. Trust = the source's numeric rank (src0 most trusted); ties
    * break by doc_id, so the winner is total.
    *
    * One shuffle on the lead key; the arg-min rides inside the
    * aggregation as a (prio, doc_id, source) struct MIN — no second pass
    * and no window. Group sizes are re-crawl multiplicities (tiny), so no
    * skew risk; a boilerplate-heavy corpus would first collapse exact
    * copies (Dedup.representatives) like the fuzzy rungs do.
    *
    * Output: (lead_key, keep_doc_id, keep_source, n_candidates), ordered.
    */
  def priorityMerge(spark: SparkSession, sfDir: String,
                    leadTokens: Int = 5): DataFrame = {
    val toks = filter(split(lower(trim(col("text"))), " "), t => length(t) > 0)
    val leadKey = md5(concat_ws(" ", slice(toks, 1, leadTokens)))
    val docs = table(spark, sfDir, "documents")
    // trust is an explicit (source, prio) DIMENSION, broadcast-joined —
    // one row per source, so a production pipeline swaps in its own
    // curated rank table with no change to the merge plan. The harness
    // dimension derives rank from the generator's "srcN" names, confined
    // to this per-source relation (not a per-row parse), and fails
    // loudly on a source the scheme doesn't cover instead of silently
    // mis-ranking it. The guard is IN-PLAN (raise_error fires when the
    // aggregation evaluates an unrankable source's row) — an eager
    // `require` here would be a Spark action at DataFrame-construction
    // time, doubling the documents scan on every call.
    val rank = expr("try_cast(substring(source, 4, 10) AS bigint)")
    val trustDim = docs.select(col("source")).distinct()
      .withColumn("prio",
        when(rank.isNotNull, rank)
          .otherwise(raise_error(concat(
            lit("priorityMerge trust dimension has unrankable source name: "),
            col("source")))))
    docs
      .select(col("doc_id"), col("source"), leadKey.as("lead_key"))
      .join(broadcast(trustDim), Seq("source"))
      .groupBy("lead_key")
      .agg(
        min(struct(col("prio"), col("doc_id"), col("source"))).as("w"),
        count(lit(1)).as("n_candidates"))
      .select(col("lead_key"), col("w.doc_id").as("keep_doc_id"),
        col("w.source").as("keep_source"), col("n_candidates"))
      .orderBy("lead_key")
  }

  /** Training-shard packing plan: assign every document a contiguous
    * token interval in doc_id order and the output shard that interval
    * starts in — the step that turns a cleaned corpus into fixed-budget
    * training files (`writeShards` materializes it).
    *
    * The global running token total is a distributed prefix sum, NOT a
    * corpus-wide single-partition window (which would serialize 100 TB
    * through one task):
    *   1. bucket docs by `doc_id div bucketSize`; a per-bucket window
    *      computes the within-bucket running sum (parallel across
    *      buckets);
    *   2. per-bucket token subtotals (corpus/bucketSize rows) get their
    *      exclusive prefix sum in one single-partition window over that
    *      SMALL relation only — size `bucketSize` so corpus/bucketSize
    *      stays ~10^6 rows (the default 100 suits the harness corpus; a
    *      10^10-doc corpus wants ~10^4). If even that relation is too
    *      big, apply the same two-level split recursively;
    *   3. broadcast the offsets back and add. global_start = bucket
    *      offset + within-bucket running sum - own tokens;
    *      shard_id = global_start div tokensPerShard.
    *
    * Documents larger than the budget spill over their shard boundary
    * (interval assignment, like a tokenizer's block packing) — shard
    * sizes stay within one document of the budget without splitting doc
    * text mid-stream.
    *
    * Output: (doc_id, n_tokens, global_start, shard_id), ordered.
    */
  def shardPlan(spark: SparkSession, sfDir: String,
                tokensPerShard: Long = 2048, bucketSize: Long = 100): DataFrame = {
    val docs = table(spark, sfDir, "documents")
      .select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("n_tokens"),
        expr(s"doc_id div ${bucketSize}L").as("bucket"))
    val withinW = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = docs.withColumn("cum", sum(col("n_tokens")).over(withinW))
    val bucketTotals = docs.groupBy("bucket")
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
    // exclusive prefix sum over the bucket totals: single-partition by
    // construction, but over |corpus| / bucketSize rows, not the corpus
    val offsetW = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .withColumn("bucket_offset",
        coalesce(sum(col("bucket_tokens")).over(offsetW), lit(0L)))
      .select("bucket", "bucket_offset")
    withCum.join(broadcast(offsets), Seq("bucket"))
      .withColumn("global_start", col("bucket_offset") + col("cum") - col("n_tokens"))
      .withColumn("shard_id", expr(s"global_start div ${tokensPerShard}L"))
      .select("doc_id", "n_tokens", "global_start", "shard_id")
      .orderBy("doc_id")
  }

  /** Materialize the shard plan: the corpus written as parquet
    * partitioned by shard_id — one directory per training shard, each
    * holding ~tokensPerShard tokens of documents in doc_id order. The
    * join is a broadcast-free equi-join on doc_id; at 100 TB the write
    * fans out per shard directory with no driver involvement.
    */
  /** Deterministic data-mixing sampler: each source gets a sampling
    * rate (millis), each doc a stable coin toss `h60("mix:" + doc_id)
    * mod 1000` — kept iff the toss lands under the source's rate. The
    * properties a training-mix pipeline needs, all by construction:
    * REPRODUCIBLE (hash of the id, not RNG state — the same doc makes
    * the same cut on every re-run, restart, and executor count),
    * CONSISTENT under corpus growth (adding docs never flips existing
    * decisions, unlike every nth-row/limit scheme), and AUDITABLE (the
    * output is the per-source quota report: configured rate vs achieved
    * rate). Per-row decision is a narrow map; only the tiny per-source
    * rollup shuffles. Default rates are themselves derived from the
    * source name hash so the query is self-contained; production passes
    * an explicit mix config and broadcasts it the same way.
    */
  /** The sampler's per-row expressions, shared with the streaming twin
    * (stateless — which is WHY the stream form needs no state and the
    * decisions survive restart: the coin is the hash, not an RNG).
    */
  private[graft] def mixRate: org.apache.spark.sql.Column = {
    import graft.functions.OracleHash.h60
    pmod(h60(concat(lit("rate:"), col("source"))), lit(800L)) + lit(100L)
  }
  private[graft] def mixToss: org.apache.spark.sql.Column = {
    import graft.functions.OracleHash.h60
    pmod(h60(concat(lit("mix:"), col("doc_id").cast("string"))), lit(1000L))
  }

  def mixSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = mixRate
    val toss = mixToss
    table(spark, sfDir, "documents")
      .select(col("source"), rate.as("rate_milli"), (toss < rate).as("keep"))
      .groupBy("source", "rate_milli")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("achieved_milli",
        (col("n_kept") * 1000L / col("n_docs")).cast("long"))
      .orderBy("source")
  }

  /** pipeline_mix_temperature: temperature-based mixture weights — the
    * standard multilingual/multi-source rebalancing rule (sample source
    * i proportional to n_i^alpha, alpha=0.5 here): raw counts are
    * square-rooted so head sources shrink and tail sources grow, then
    * normalized to parts-per-million and turned into per-source target
    * doc counts. All math after the one corpus-count aggregate runs
    * over |sources| rows (the empty-partition windows are fine at any
    * corpus size — sources number in the thousands, not billions);
    * sqrt of an exact integer is IEEE-identical on both engines, and
    * everything after the floor is integer.
    *
    * Output: (source, n_docs, s_milli, w_ppm, n_target).
    */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy() // |sources| rows post-aggregate only
    table(spark, sfDir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("s_milli",
        floor(sqrt(col("n_docs").cast("double")) * lit(1000d)).cast("long"))
      .withColumn("tot_docs", sum(col("n_docs")).over(w))
      .withColumn("tot_s", sum(col("s_milli")).over(w))
      .select(col("source"), col("n_docs"), col("s_milli"),
        expr("(1000000 * s_milli) div tot_s").as("w_ppm"),
        expr("(((1000000 * s_milli) div tot_s) * tot_docs) div 1000000").as("n_target"))
      .orderBy("source")
  }

  /** pipeline_source_cap: per-source contribution cap — keep at most k
    * documents per source (smallest doc_id wins), the crawl-curation
    * rule that stops any single domain from dominating the mix. Uses
    * the bounded top-k aggregate (TopKTagAgg, ord = -doc_id) instead
    * of a rank window: partial k-entry buffers combine map-side, the
    * shuffle carries k rows per source, and NO per-source sort runs —
    * the shape that holds when one source has a billion docs. Reports
    * the kept ids with their rank plus the source's total, so the
    * audit shows exactly what the cap cut.
    *
    * Output: (source, n_docs, doc_id, rk), rk = 1..min(k, n_docs).
    */
  def sourceCap(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.TopKSketch.topK(-col("doc_id"),
          col("doc_id").cast("string"), k).as("top"))
      .select(col("source"), col("n_docs"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("source"), col("n_docs"), col("t.tag").cast("long").as("doc_id"),
        (col("i") + 1).cast("long").as("rk"))
      .orderBy("source", "rk")

  /** sample_weighted: weighted bottom-k priority sampling per source —
    * the without-replacement weighted sampler (sequential Poisson /
    * priority sampling: Ohlsson 1998, Duffield et al. 2007) a corpus
    * build uses to draw a k-doc audit sample per source where LONGER
    * documents are proportionally more likely to be picked: each doc
    * gets priority u/w (u uniform, w its weight) and the k SMALLEST
    * priorities win. Both halves are made exact-integer so the oracle
    * replays them: u = h60("samp:" + doc_id) (the shared md5 family,
    * uniform in [0, 2^60)), w = max(n_chars, 1), priority = u div w —
    * heavier docs get smaller priorities, deterministic across runs,
    * which also makes the sample REPRODUCIBLE (the property training
    * pipelines need from every sampling stage).
    *
    * Scale shape: same bounded-aggregate discipline as [[sourceCap]] —
    * TopKTagAgg keeps a k-entry buffer per source that combines
    * map-side, so the shuffle carries k rows per source and no
    * per-source sort ever runs (a rank-window form would sort every
    * source's full doc list). The per-source total weight rides in the
    * same aggregation: one shuffle, |sources| x k output rows. Ties
    * (equal priority) break by doc_id via the zero-padded tag, total
    * order in both engines.
    *
    * Output: (source, w_total, rk, doc_id, prio), rk = 1..k.
    */
  def weightedSample(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
        greatest(col("n_chars"), lit(1L)).as("w"),
        graft.functions.OracleHash.h60(
          concat(lit("samp:"), col("doc_id").cast("string"))).as("u"))
      // exact integer division — a double `/` would round past 2^53
      .select(col("source"), col("doc_id"), col("w"), expr("u div w").as("prio"))
      .groupBy("source")
      .agg(sum(col("w")).as("w_total"),
        graft.functions.TopKSketch.topK(-col("prio"),
          lpad(col("doc_id").cast("string"), 12, "0"), k).as("top"))
      .select(col("source"), col("w_total"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("source"), col("w_total"),
        (col("i") + 1).cast("long").as("rk"),
        col("t.tag").cast("long").as("doc_id"),
        (-col("t.n")).as("prio"))
      .orderBy("source", "rk")

  /** mix_dsir: hashed-feature importance-resampling weights (the DSIR
    * recipe, Xie et al. 2023 "Data Selection for Language Models via
    * Importance Resampling"): score every document by how much its
    * hashed bag-of-words distribution looks like a TARGET domain
    * relative to the raw corpus, then resample the corpus by those
    * weights to tilt the mix toward the target without training a
    * classifier. Features are unigrams hashed into `buckets` bins; the
    * per-bucket weight is the add-one-smoothed target/corpus count
    * ratio in thousandths
    *
    *   r_milli(b) = floor(1000 * (t_b + 1) / (c_b + 1))
    *
    * and a doc's weight is the MEAN r_milli over its token occurrences
    * — all-integer, so the oracle replays it exactly. (DSIR's n-gram
    * probability ratio carries a constant corpus/target total factor;
    * resampling normalizes weights, so the constant is dropped rather
    * than risking overflow multiplying 100 TB-scale totals.)
    *
    * Scale shape: ONE aggregation over the tokenized corpus builds both
    * count vectors (the target count rides along as a conditional sum —
    * no second corpus scan), bounded at `buckets` rows at any corpus
    * size, so the ratio table is explicitly BROADCAST back onto the
    * token stream: the scoring join is shuffle-free on the big side,
    * and the only wide stage is the final per-doc mean (map-side
    * combinable). At 100 TB the stats table is materialized once and
    * reused across target domains.
    *
    * Output: (doc_id, n_tokens, dsir_milli) for docs with >= 1 token.
    */
  def dsirWeights(spark: SparkSession, sfDir: String,
                  target: String = "src0", buckets: Int = 1024): DataFrame = {
    // per-token h60 (md5) fuses into the scan stage — spread it when
    // the scan plans narrow. HashDense: an md5 per token is the dense
    // class; the 64 KB/task A/B leg cost mix_dsir +26%
    val docs = table(spark, sfDir, "documents")
    val tok = graft.Rebalance.spreadIfNarrow(docs, docs,
        graft.Rebalance.HashDense, col("doc_id"))
      .select(col("doc_id"), col("source"),
        explode(filter(split(lower(col("text")), " "),
          t => length(t) > 0)).as("word"))
      .withColumn("b", pmod(graft.functions.OracleHash.h60(col("word")), lit(buckets.toLong)))
    tok.join(broadcast(dsirRatioTable(spark, sfDir, target, buckets)), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(r_milli) div count(1)").as("dsir_milli"))
      .orderBy("doc_id")
  }

  /** The (bucket -> r_milli) ratio dimension behind [[dsirWeights]] —
    * <= `buckets` rows at any corpus size. Production materializes this
    * once per target domain and reuses it across scoring runs; the
    * streaming twin collects it (bounded driver pull, same discipline
    * as the decontamination Bloom sketch) and scores arriving docs with
    * a map-literal lookup — see [[dsirScoreFrame]].
    */
  // served through the run-lifetime store: the ratio
  // dimension is one full-corpus tokenize+aggregate, and both the batch
  // weigher (mix_dsir joins it broadcast) and the ingest scorer
  // (stream_dsir collects it into a map literal) need the SAME <= 1024-row
  // frame — without the store, the streaming twin re-paid the corpus scan
  // on every invocation.
  private val dsirRatioStores = graft.ArtifactStore.frames("corpus.dsirRatio")
  def dsirRatioTable(spark: SparkSession, sfDir: String,
                     target: String = "src0", buckets: Int = 1024): DataFrame =
    dsirRatioStores.getOrBuild(spark, sfDir, Seq("documents"), target, buckets) {
      dsirRatioTableUncached(spark, sfDir, target, buckets).materialized
    }

  private def dsirRatioTableUncached(spark: SparkSession, sfDir: String,
                                     target: String, buckets: Int): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("source"),
        explode(filter(split(lower(col("text")), " "),
          t => length(t) > 0)).as("word"))
      .withColumn("b", pmod(graft.functions.OracleHash.h60(col("word")), lit(buckets.toLong)))
      .groupBy("b")
      .agg(count(lit(1)).as("c_cnt"),
        sum(when(col("source") === target, 1L).otherwise(0L)).as("t_cnt"))
      .select(col("b"), expr("(1000 * (t_cnt + 1)) div (c_cnt + 1)").as("r_milli"))

  /** Map-literal DSIR scoring over any (doc_id, text) frame — batch or
    * stream. The ratio table rides INSIDE the plan as a 1024-entry map
    * literal (the ship-the-tokenizer pattern: executors never see a
    * join, a shuffle, or state — scoring is a narrow per-row fold over
    * the token array, so the streaming twin is stateless-append). A
    * bucket absent from the map means an unseen word family: the
    * smoothed formula gives (0+1)/(0+1) -> 1000, applied via coalesce.
    * Result-identical to the join form in [[dsirWeights]] (CorpusSpec).
    */
  private[graft] def dsirScoreFrame(docs: DataFrame, ratio: Seq[(Long, Long)],
                                    buckets: Int = 1024): DataFrame = {
    val ratioMap = map_from_entries(array(
      ratio.map { case (b, r) => struct(lit(b), lit(r)) }: _*))
    val toks = filter(split(lower(col("text")), " "), t => length(t) > 0)
    docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, w) =>
          acc + coalesce(
            element_at(ratioMap,
              pmod(graft.functions.OracleHash.h60(w), lit(buckets.toLong))),
            lit(1000L))).as("rsum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("rsum div n_tokens").as("dsir_milli"))
  }

  /** mix_ccnet: CCNet-style per-language fluency bucketing (Wenzek et
    * al. 2020 "CCNet: Extracting High Quality Monolingual Datasets"):
    * split each language's documents into head/middle/tail terciles of
    * the corpus-LM fluency score ([[TextAnalysis.lmScore]], the
    * perplexity stand-in), and report the per-(lang, bucket) doc/token
    * mass — the table a CCNet-style build uses to keep head+middle and
    * drop (or down-weight) the tail.
    *
    * Scale shape — the reason this is NOT a per-language sort: lm_milli
    * has a BOUNDED domain (0..1000 by construction), so the tercile
    * edges come from a (lang, lm_milli) histogram — two map-side-
    * combinable aggregations and a cumulative window over partitions of
    * AT MOST 1001 rows per language (domain-bounded, skew-impossible —
    * the same bounded-domain trick as the Zipf rollup). Edges broadcast
    * back (rows = |langs|), docs bucket in one narrow pass. A
    * quantile-by-global-sort would shuffle the corpus; this shuffles
    * the histogram. Edge rule: e_k = min lm with 3*cum >= k*n — docs
    * <= e1 are 'tail', <= e2 'middle', else 'head' (high lm = high
    * corpus fluency = CCNet's low-perplexity head).
    *
    * Output: (lang, bucket, n_docs, n_bigrams), ordered.
    */
  def ccnetBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    // materialized ONCE: the LM-score subtree (explode + two corpus
    // joins) feeds the histogram AND the final bucket pass — without
    // this it would recompute per reference (production materializes
    // the per-doc LM table as its own artifact anyway)
    val scored = TextAnalysis.lmScore(spark, sfDir)
      .join(table(spark, sfDir, "documents").select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .materialized
    val dist = scored.groupBy("lang", "lm_milli").agg(count(lit(1)).as("cnt"))
    val cum = dist.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy("lang").orderBy("lm_milli")))
    val tot = dist.groupBy("lang").agg(sum(col("cnt")).as("n"))
    val edges = cum.join(tot, Seq("lang"))
      .groupBy("lang")
      .agg(min(when(col("cum") * 3 >= col("n"), col("lm_milli"))).as("e1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("lm_milli"))).as("e2"))
    scored.join(broadcast(edges), Seq("lang"))
      .withColumn("bucket",
        when(col("lm_milli") <= col("e1"), lit("tail"))
          .when(col("lm_milli") <= col("e2"), lit("middle"))
          .otherwise(lit("head")))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_bigrams"))
      .orderBy("lang", "bucket")
  }

  /** corpus_padding_audit: padding-waste comparison across batching
    * schemes — the design table behind length-bucketed batching: a
    * training batch pads every sequence to its cap, so token-length
    * spread turns directly into wasted pad compute. Three schemes:
    *   'global'    — every doc pads to the CORPUS max length
    *                 (the no-bucketing worst case),
    *   'bucket256' — docs pad to their length rounded up to 256,
    *   'bucket64'  — rounded up to 64 (finer buckets, less waste,
    *                 more bucket-switching overhead).
    * waste_milli = 1000 * (padded - tokens) div padded — the fraction
    * of batch compute spent on pad tokens under each scheme.
    *
    * Scale shape: one narrow token-count pass; the per-doc caps are
    * pure integer arithmetic (((n + step-1) div step) * step), the
    * global cap is a ONE-ROW max broadcast back; output is 3 rows via
    * a constant-fanout explode. Nothing shuffles but the 3-group
    * rollup. Output: (scheme, n_docs, n_tokens, n_padded,
    * waste_milli), ordered by scheme.
    */
  def paddingAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val toksCol = filter(split(lower(col("text")), " "), t => length(t) > 0)
    val d = table(spark, sfDir, "documents")
      .select(size(toksCol).cast("long").as("n"))
      .filter(col("n") > 0)
    val mx = d.agg(max(col("n")).as("max_n"))
    d.crossJoin(broadcast(mx))
      .select(explode(array(
        struct(lit("global").as("scheme"), col("n"), col("max_n").as("cap")),
        struct(lit("bucket256").as("scheme"), col("n"),
          expr("((n + 255L) div 256L) * 256L").as("cap")),
        struct(lit("bucket64").as("scheme"), col("n"),
          expr("((n + 63L) div 64L) * 64L").as("cap")))).as("r"))
      .select(col("r.scheme").as("scheme"), col("r.n").as("n"), col("r.cap").as("cap"))
      .groupBy("scheme")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        sum(col("cap")).as("n_padded"))
      .withColumn("waste_milli", expr("(1000 * (n_padded - n_tokens)) div n_padded"))
      .orderBy("scheme")
  }

  /** mix_curriculum: epoch-annealed source-mixing schedule — the
    * curriculum a staged training run follows: epoch 0 samples sources
    * UNIFORMLY (coverage first), the final epoch samples them
    * proportionally to measured QUALITY (the corpus-LM fluency mean
    * per source, [[TextAnalysis.lmScore]]), with linear integer
    * interpolation between — the "anneal to high-quality data late in
    * training" schedule used by staged pretraining recipes, as a
    * deterministic plan table.
    *
    * All-integer: q_milli(s) = mean lm_milli over the source's scored
    * docs (floor); qnorm_milli = (1000 * q) div sum_q; w_milli(s, e) =
    * ((1000 div S) * (E-1-e) + qnorm_milli * e) div (E-1) — exactly
    * uniform at e = 0, exactly quality-proportional at e = E-1.
    * planned_tokens budgets each epoch's source draw against the total
    * scored token mass.
    *
    * Plan shape: the corpus-scale work is lmScore's bigram-stats joins
    * (shared with mix_ccnet); everything after is a |sources|-row
    * aggregate crossed with a ONE-ROW broadcast of the corpus totals
    * and the epoch sequence — the schedule table costs nothing beyond
    * the quality scan. Output: (epoch, source, q_milli, w_milli,
    * planned_tokens), ordered.
    */
  def curriculumMix(spark: SparkSession, sfDir: String, epochs: Int = 3): DataFrame = {
    require(epochs >= 2, "a curriculum needs at least two epochs")
    val toksCol = filter(split(lower(col("text")), " "), t => length(t) > 0)
    val dtok = table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), size(toksCol).cast("long").as("n_toks"))
    val src = TextAnalysis.lmScore(spark, sfDir).select("doc_id", "lm_milli")
      .join(dtok, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("lm_milli")).as("sum_lm"),
        sum(col("n_toks")).as("n_tokens"))
      .withColumn("q_milli", expr("sum_lm div n_docs"))
    val tot = src.agg(sum(col("q_milli")).as("sum_q"),
      sum(col("n_tokens")).as("total_tokens"), count(lit(1)).as("n_src"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("q_milli"), col("sum_q"), col("total_tokens"),
        col("n_src"), explode(sequence(lit(0L), lit(epochs - 1L))).as("epoch"))
      .withColumn("w_milli", expr(
        s"((1000 div n_src) * (${epochs - 1}L - epoch)" +
          s" + ((1000 * q_milli) div sum_q) * epoch) div ${epochs - 1}L"))
      .withColumn("planned_tokens", expr("(w_milli * total_tokens) div 1000"))
      .select("epoch", "source", "q_milli", "w_milli", "planned_tokens")
      .orderBy("epoch", "source")
  }

  /** corpus_shuffle: deterministic per-epoch training-order shuffle —
    * the data-order step a reproducible LLM training run needs: every
    * epoch is a pseudo-random permutation of the corpus, fully
    * determined by (epoch, doc_id), so a run can be replayed (or
    * resumed from a (epoch, shard, pos) checkpoint) bit-identically
    * with no stored permutation table. Each doc's epoch-e sort key is
    * the seeded hash h60("e:" || doc_id); shards are CONTIGUOUS HASH
    * RANGES (not modulo buckets), so concatenating shards in shard
    * order replays the one global permutation — the layout a
    * sequential trainer streams.
    *
    * Scale shape: explode over epochs (narrow, xE), one shuffle keyed
    * (epoch, shard), position by a PER-SHARD window — n_shards is
    * chosen so a shard is one training file (~GBs), so the window
    * partition is budget-bounded by construction; there is never a
    * global sort or single-partition window. The hash is uniform, so
    * range-shards are balanced within sampling noise; ties (h60
    * collisions) break by doc_id, keeping the order total.
    *
    * Output: (epoch, doc_id, shard, pos), pos = 1.. within shard,
    * ordered by (epoch, shard, pos).
    */
  def epochShuffle(spark: SparkSession, sfDir: String,
                   epochs: Int = 2, nShards: Int = 8): DataFrame = {
    val width = (1L << 60) / nShards
    table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(sequence(lit(0L), lit(epochs - 1L))).as("epoch"))
      .withColumn("hkey",
        graft.functions.OracleHash.h60i(col("epoch"), col("doc_id").cast("string")))
      .withColumn("shard",
        least(expr(s"hkey div ${width}L"), lit(nShards - 1L)).cast("long"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy("epoch", "shard").orderBy("hkey", "doc_id"))
        .cast("long"))
      .select(col("epoch"), col("doc_id"), col("shard"), col("pos"))
      .orderBy("epoch", "shard", "pos")
  }

  /** corpus_pack: concat-and-chunk sequence packing — the layout step
    * that turns a shuffled corpus into fixed-length training windows
    * (the GPT-style "pack documents back to back, slice every
    * contextLen tokens" builder; the padding audit's 'global'/'bucket'
    * schemes are what this replaces). Docs are ordered by the SAME
    * epoch-0 seeded hash and contiguous hash-range shards as
    * [[epochShuffle]], so the packed layout is the replayable training
    * order; within a shard each doc occupies [cum_end - n, cum_end) in
    * the concatenated token stream and windows are contextLen slices of
    * it. Reported per shard: docs, tokens, windows (= ceil of the shard
    * total — padding exists ONLY in the final window's tail), pad
    * tokens, and how many docs straddle a window edge (the count that
    * motivates boundary-aware attention masking; ~total/contextLen of
    * them is inherent to concat packing).
    *
    * Scale shape: one shuffle keyed on shard; the prefix sum is a
    * PER-SHARD window (shards are sized to one training file, so the
    * partition is budget-bounded by construction — never a global
    * sort); the rollup is map-side partial over |shards| rows.
    *
    * Output: (shard, n_docs, total_tokens, n_windows, pad_tokens,
    * n_boundary_docs) ordered by shard.
    */
  def packPlan(spark: SparkSession, sfDir: String, contextLen: Long = 2048,
               nShards: Int = 8): DataFrame = {
    val width = (1L << 60) / nShards
    val toksCol = filter(split(lower(col("text")), " "), t => length(t) > 0)
    val d = table(spark, sfDir, "documents")
      .select(col("doc_id"), size(toksCol).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("hkey",
        graft.functions.OracleHash.h60i(lit(0L), col("doc_id").cast("string")))
      .withColumn("shard",
        least(expr(s"hkey div ${width}L"), lit(nShards - 1L)).cast("long"))
    val w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum_end", sum(col("n")).over(w))
      .withColumn("first_w", expr(s"(cum_end - n) div ${contextLen}L"))
      .withColumn("last_w", expr(s"(cum_end - 1) div ${contextLen}L"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        expr(s"(sum(n) + ${contextLen - 1}L) div ${contextLen}L")
          .as("n_windows"),
        sum(when(col("first_w") =!= col("last_w"), 1L).otherwise(0L))
          .as("n_boundary_docs"))
      .withColumn("pad_tokens",
        col("n_windows") * contextLen - col("total_tokens"))
      .select("shard", "n_docs", "total_tokens", "n_windows", "pad_tokens",
        "n_boundary_docs")
      .orderBy("shard")
  }

  def writeShards(spark: SparkSession, sfDir: String, outDir: String,
                  tokensPerShard: Long = 2048): Unit =
    table(spark, sfDir, "documents")
      .join(shardPlan(spark, sfDir, tokensPerShard), Seq("doc_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(outDir)

  // ——— quality-model distillation (teacher -> cheap linear student) ———

  /** Student features for [[distillFit]]: cheap per-row signals that
    * need NO corpus join — capped token count and stopword per-mille.
    * The 255 cap bounds both the model's length sensitivity and the
    * exact-integer magnitude of every normal-equation sum (see
    * [[distillFit]]'s overflow budget). Rows without tokens are
    * excluded (the stopword ratio has no denominator).
    */
  private[graft] def distillFeatureFrame(docs: DataFrame): DataFrame = {
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    val toksCol = filter(split(lower(col("text")), " "), t => length(t) > 0)
    val nStop = size(filter(col("toks"),
      t => t.isin(stopwords.map(lit(_)): _*))).cast("long")
    docs
      .select(col("doc_id"), toksCol.as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        nStop.as("n_stop"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"),
        least(col("n_tok"), lit(255L)).as("x1"),
        expr("(1000 * n_stop) div n_tok").as("x2"))
  }

  /** The fitted teacher/student relation + the one-row coefficient
    * table, shared by [[distillFit]] and the streaming scorer.
    * Returns (scored-docs-with-split, coefficient-row): the second is
    * ONE row (det, b0n, b1n, b2n) — the exact-integer Cramer solve of
    * the 3x3 normal equations on the TRAIN split.
    */
  private[graft] def distillParts(spark: SparkSession,
                                  sfDir: String): (DataFrame, DataFrame) = {
    // the per-doc teacher table is served from the run-lifetime store
    // (the dsirRatioTable discipline): BOTH the batch fit (mix_distill)
    // and the ingest scorer's coefficient pull (stream_distill) need the
    // SAME frame, and
    // without the store each invocation re-paid the teacher's bigram
    // joins (the expensive thing the distillation exists to avoid).
    // The coefficient row is one cheap aggregate over the stored frame.
    val j = distillTeacherStores.getOrBuild(spark, sfDir, Seq("documents")) {
      val feats = distillFeatureFrame(table(spark, sfDir, "documents"))
      val lm = TextAnalysis.lmScore(spark, sfDir).select("doc_id", "lm_milli")
      // materialized ONCE (the ccnetBuckets discipline): the teacher
      // subtree (bigram explode + two corpus joins) feeds the
      // train-split sums AND the residual pass
      feats.join(lm, Seq("doc_id"))
        .withColumn("split",
          when(col("doc_id") % 5 < 4, lit("train")).otherwise(lit("holdout")))
        .materialized
    }
    val dec = "decimal(38,0)"
    val s = j.filter(col("split") === "train").agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("x1")).cast(dec).as("s1"),
      sum(col("x2")).cast(dec).as("s2"),
      sum(col("x1") * col("x1")).cast(dec).as("s11"),
      sum(col("x1") * col("x2")).cast(dec).as("s12"),
      sum(col("x2") * col("x2")).cast(dec).as("s22"),
      sum(col("lm_milli")).cast(dec).as("sy"),
      sum(col("x1") * col("lm_milli")).cast(dec).as("s1y"),
      sum(col("x2") * col("lm_milli")).cast(dec).as("s2y"))
    val c = s.select(
      expr("n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)")
        .as("det"),
      expr("sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)")
        .as("b0n"),
      expr("n*(s1y*s22 - s2y*s12) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)")
        .as("b1n"),
      expr("n*(s11*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)")
        .as("b2n"))
    (j, c)
  }

  private val distillTeacherStores =
    graft.ArtifactStore.frames("corpus.distillTeacher")

  /** mix_distill: distill the corpus-LM fluency teacher
    * ([[TextAnalysis.lmScore]], the expensive bigram-join signal) into
    * a 3-feature LINEAR student scored per row with no corpus join —
    * the CCNet -> fastText distillation step a production pipeline runs
    * so that 100 TB of documents score at map speed while only the
    * (bounded) fit set ever pays the teacher's join.
    *
    * Fit = ordinary least squares by NORMAL EQUATIONS: one map-side-
    * combinable aggregation produces the 9 Gram/moment sums (n, Sx1,
    * Sx2, Sx1x1, Sx1x2, Sx2x2, Sy, Sx1y, Sx2y) — all exact integers,
    * partition-order independent — and the 3x3 solve is Cramer's rule
    * on those sums, computed in DECIMAL(38,0): coefficients stay exact
    * RATIONALS (numerator, positive Gram determinant) end to end.
    * There is no gradient loop and no float in the fit path.
    *
    * Per-doc serving keeps integer exactness: pred_milli =
    * clamp-then-divide — least(1000*det, greatest(0, b0n + b1n*x1 +
    * b2n*x2)) div det — the clamp happens in exact NUMERATOR space, so
    * the one integer division is nonnegative/positive, where floor and
    * truncate agree on every engine. Reported b?_micro use the same
    * symmetric-truncation CASE. Train/holdout split is a deterministic
    * doc_id % 5 hash (80/20): the holdout row's mae_milli IS the
    * generalization audit.
    *
    * Overflow budget (documented, not incidental): x1 <= 255, x2 <=
    * 1000, y <= 1000, so every Cramer term is <= n^3 * 6.5e10 and the
    * micro-unit numerators <= 1e6 * n^3 * 6.5e10 — inside DECIMAL(38,0)
    * for n up to ~8e6 fit docs. At 100 TB the fit set is a bounded
    * deterministic hash-sample (quality classifiers train on samples;
    * the student scores everything), so n is a design constant, not the
    * corpus size.
    *
    * Plan shape: teacher relation checkpointed once; ONE row of sums;
    * coefficients broadcast back (the sanctioned one-row constant
    * join); one final 2-group rollup. Output: (split, n_docs,
    * mae_milli, mean_pred_milli, mean_lm_milli, b0_micro, b1_micro,
    * b2_micro), ordered by split.
    */
  def distillFit(spark: SparkSession, sfDir: String): DataFrame = {
    val (j, c) = distillParts(spark, sfDir)
    j.crossJoin(broadcast(c))
      .withColumn("pred_milli",
        expr("least(1000 * det, greatest(CAST(0 AS DECIMAL(38,0)), " +
          "b0n + b1n * x1 + b2n * x2)) div det"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(abs(pred_milli - lm_milli)) div count(1)").as("mae_milli"),
        expr("sum(pred_milli) div count(1)").as("mean_pred_milli"),
        expr("sum(lm_milli) div count(1)").as("mean_lm_milli"),
        expr("CASE WHEN max(b0n) >= 0 THEN (1000000 * max(b0n)) div max(det) " +
          "ELSE -((1000000 * -max(b0n)) div max(det)) END").as("b0_micro"),
        expr("CASE WHEN max(b1n) >= 0 THEN (1000000 * max(b1n)) div max(det) " +
          "ELSE -((1000000 * -max(b1n)) div max(det)) END").as("b1_micro"),
        expr("CASE WHEN max(b2n) >= 0 THEN (1000000 * max(b2n)) div max(det) " +
          "ELSE -((1000000 * -max(b2n)) div max(det)) END").as("b2_micro"))
      .orderBy("split")
  }

  /** The fitted coefficients as exact decimal strings, for shipping
    * into a streaming plan as literals (the bounded one-row pull — the
    * same fixed-size-collect discipline as the DSIR ratio map and the
    * decontamination Bloom sketch). Order: (det, b0n, b1n, b2n).
    */
  private[graft] def distillCoeffStrings(spark: SparkSession,
                                         sfDir: String): (String, String, String, String) = {
    val r = distillParts(spark, sfDir)._2.collect()(0)
    def s(i: Int): String = r.getDecimal(i).toBigInteger.toString
    (s(0), s(1), s(2), s(3))
  }

  /** Score a (possibly streaming) documents frame with batch-fitted
    * distill coefficients: per-row features + the exact clamp-then-
    * divide prediction, all inside one narrow projection — no join, no
    * shuffle, no state. Output: (doc_id, x1, x2, pred_milli).
    */
  private[graft] def distillScoreFrame(docs: DataFrame,
                                       coeffs: (String, String, String, String)): DataFrame = {
    val (det, b0n, b1n, b2n) = coeffs
    def d(v: String): String = s"CAST('$v' AS DECIMAL(38,0))"
    distillFeatureFrame(docs)
      .withColumn("pred_milli",
        expr(s"least(1000 * ${d(det)}, greatest(CAST(0 AS DECIMAL(38,0)), " +
          s"${d(b0n)} + ${d(b1n)} * x1 + ${d(b2n)} * x2)) div ${d(det)}"))
  }

  /** corpus_gini: source-concentration audit — the Lorenz curve and
    * Gini coefficient of token volume across sources, the
    * data-governance number behind "is this corpus one crawl wearing
    * five hats?". Sources rank ascending by token count; each row
    * carries its cumulative share (the Lorenz curve a mix report
    * plots) and the corpus-wide Gini in exact millis via the rank
    * formula over ascending x:
    *
    *   gini_milli = floor(1000 * (2*sum(rk*x) - (n+1)*sum(x))
    *                      / (n * sum(x)))
    *
    * The rank-weighted sum accumulates in DECIMAL(38,0) (HUGEINT in
    * the oracle): at 1e5 sources x 1e14 tokens the plain BIGINT sum
    * would wrap. Plan: one aggregation over the tokenized corpus to
    * |sources| rows; every window runs over those rows only.
    *
    * Output: (rk, source, n_tokens, cum_share_milli, gini_milli).
    */
  def sourceGini(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy() // |sources| rows post-aggregate only
    val wOrd = Window.partitionBy().orderBy(col("n_tokens").asc, col("source").asc)
    table(spark, sfDir, "documents")
      .select(col("source"), TextAnalysis.wsTokenCount(col("text")).as("n"))
      .groupBy("source").agg(sum(col("n")).as("n_tokens"))
      .withColumn("rk", row_number().over(wOrd).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wOrd))
      .withColumn("tot_tokens", sum(col("n_tokens")).over(w))
      .withColumn("n_src", count(lit(1)).over(w))
      .withColumn("s1", sum(expr("cast(rk * n_tokens as decimal(38,0))")).over(w))
      .select(col("rk"), col("source"), col("n_tokens"),
        expr("(1000 * cum_tokens) div tot_tokens").as("cum_share_milli"),
        expr("""(1000 * (2 * s1 - cast(n_src + 1 as decimal(38,0)) * tot_tokens))
                div (cast(n_src as decimal(38,0)) * tot_tokens)""").as("gini_milli"))
      .orderBy("rk")
  }

  /** corpus_kanon: k-anonymity audit over the corpus's quasi-identifier
    * tuple (source, lang, length band) — the governance question asked
    * before releasing corpus statistics or samples: a combination
    * shared by fewer than k documents re-identifies its members when
    * joined with any outside knowledge of those attributes (Sweeney's
    * k-anonymity, applied at the corpus-metadata grain; the text-level
    * leak is [[graft.ops.TextAnalysis.piiScan]]'s concern — this is
    * the METADATA side both audits are needed for). Per combination:
    * size and a risky flag (n < k); the trailing 1-row-style summary
    * columns (share of docs at risk, in millis) ride every row via a
    * window over the bounded combo table so the output stays one
    * uniform grain.
    *
    * Scale shape: one map-side-combinable count over the quasi-id
    * tuple, everything else over the |sources x langs x bands|-bounded
    * rows. Output: (source, lang, len_band, n_docs, risky,
    * risk_share_milli), ordered.
    */
  def kAnonymity(spark: SparkSession, sfDir: String, k: Int = 5,
                 bandChars: Int = 500): DataFrame =
    table(spark, sfDir, "documents")
      .groupBy(col("source"), col("lang"),
        expr(s"n_chars div ${bandChars}L").as("len_band"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("risky", col("n_docs") < k.toLong)
      .withColumn("risk_share_milli",
        expr("(1000 * sum(case when risky then n_docs else 0 end) over ()) " +
          "div sum(n_docs) over ()"))
      .orderBy("source", "lang", "len_band")

  /** corpus_manifest: per-source integrity manifest — the checksum
    * table a snapshot transfer or mirror is validated against: doc
    * count, byte mass, and an ORDER-INDEPENDENT content checksum (sum
    * of 60-bit content hashes mod 2^61 — commutative, so partitioning
    * and arrival order cannot change it, and any single-document
    * corruption moves it). The same row works as the publish-side
    * manifest and the receive-side recomputation; a mismatch names the
    * source to re-pull without any doc-level diff.
    *
    * Scale shape: one narrow projection + one map-side-combinable
    * rollup per source; the modular sum rides in DECIMAL(38,0) before
    * the mod so 1e12 docs x 2^60 cannot wrap. Output: (source, n_docs,
    * n_chars, content_sum), ordered.
    */
  def sourceManifest(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("source"), col("n_chars"),
        graft.functions.OracleHash.h60(col("text")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        expr("cast(sum(cast(h as decimal(38,0))) % 2305843009213693952 as bigint)")
          .as("content_sum"))
      .orderBy("source")

  /** corpus_simpson: Simpson concentration + effective group count per
    * grouping dimension (source and lang) — the diversity companion to
    * [[sourceGini]]: Gini orders the Lorenz curve, Simpson answers the
    * sampling question directly ("the probability two randomly drawn
    * docs share a source"), and its reciprocal is the EFFECTIVE number
    * of sources — the honest denominator for "how diverse is this mix"
    * when a few giants dominate (20 nominal sources can behave like 3).
    * Exact integers throughout: lambda_ppm = 1e6 * sum n_i(n_i-1) div
    * (N(N-1)), effective_milli = 1000 * N(N-1) div sum n_i(n_i-1) —
    * all products in DECIMAL(38,0) (1e12-doc groups square to 1e24).
    *
    * Scale shape: one map-side-combinable count per (dim, group), then
    * all math over the |groups|-bounded rows. Output: (dim, n_groups,
    * n_docs, simpson_ppm, effective_milli), 2 rows.
    */
  def simpsonDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    def oneDim(dim: String): DataFrame =
      docs.groupBy(col(dim).as("g")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_docs"),
          sum(expr("cast(n as decimal(38,0)) * (n - 1)")).as("pairs_same"))
        .select(lit(dim).as("dim"), col("n_groups"), col("n_docs"),
          expr("""(1000000 * pairs_same)
                  div (cast(n_docs as decimal(38,0)) * (n_docs - 1))""")
            .as("simpson_ppm"),
          when(col("pairs_same") > 0,
            expr("""(1000 * cast(n_docs as decimal(38,0)) * (n_docs - 1))
                    div pairs_same""")).as("effective_milli"))
    oneDim("source").unionByName(oneDim("lang")).orderBy("dim")
  }

  /** corpus_snapshot_diff: snapshot-over-snapshot corpus diff — the
    * incremental-ingest audit a crawl pipeline runs when a new
    * snapshot lands: per source, how many documents were added,
    * removed, changed, or carried unchanged versus the previous
    * snapshot. Content comparison is by md5, not text equality, so the
    * join rows stay fixed-width. The two snapshots here are
    * deterministic projections of the harness table (old = ids with
    * doc_id % 10 != 7, new = ids with % 10 != 3, ids with % 10 == 5
    * re-edited), giving every status a non-empty cohort while the
    * oracle derives identical inputs.
    *
    * Scale shape: ONE full-outer join on doc_id (both sides shuffle on
    * the id; in production both snapshots are bucketed by doc_id at
    * write time and the join is exchange-free), a narrow status
    * projection, and a rollup bounded by |sources| x 4 statuses. Both
    * snapshot legs read the same base scan, so exchange reuse
    * collapses the second scan under AQE.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents").select("doc_id", "source", "text")
    val prev = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), col("source").as("source_old"),
        md5(col("text")).as("h_old"))
    val next = docs.filter(col("doc_id") % 10 =!= 3)
      .select(col("doc_id"), col("source").as("source_new"),
        md5(when(col("doc_id") % 10 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h_new"))
    prev.join(next, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source_old"), col("source_new")).as("source"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "status")
  }

  /** corpus_ngram_novelty: what fraction of the NEW snapshot's n-grams
    * were never seen in the old one — the freshness signal behind
    * "does this crawl cycle actually add trainable content, or is it
    * re-crawl" (Muennighoff's data-constrained regime makes novel-token
    * share the quantity that matters). Counts DISTINCT word n-grams per
    * side (hashed to the shared 60-bit family — the shuffle carries
    * (n, int64), never gram strings, the substring-rung discipline) and
    * anti-joins new against old per n. Snapshots derive from the same
    * doc_id-parity split as [[snapshotDiff]]; production points the two
    * sides at real snapshot directories.
    *
    * Scale shape: one tokenize+explode per side -> per-side distinct on
    * the (n, hash) key (map-side combinable), one anti-join on the same
    * key (big-to-big, AQE-skew-split), and a |n-grams-sizes|-row
    * rollup. Linear in corpus token count for each of the ns.
    *
    * Output: (n, grams_old, grams_new, novel, novel_ppm), one row per
    * n-gram size, ordered by n.
    */
  def ngramNovelty(spark: SparkSession, sfDir: String,
                   ns: Seq[Int] = Seq(1, 3, 8)): DataFrame = {
    val docs = table(spark, sfDir, "documents").select("doc_id", "text")
    def side(f: org.apache.spark.sql.Column): DataFrame =
      ns.map { n =>
        docs.filter(f)
          .select(lit(n.toLong).as("n"),
            explode(graft.functions.ShingleColumns.wordShingles(col("text"), n))
              .as("shingle"))
          .select(col("n"), graft.functions.OracleHash.h60(col("shingle")).as("w"))
      }.reduce(_.unionAll(_)).distinct()
    val old = side(col("doc_id") % 10 =!= 7)
    val neu = side(col("doc_id") % 10 =!= 3)
    val novel = neu.join(old, Seq("n", "w"), "left_anti")
      .groupBy("n").agg(count(lit(1)).as("novel"))
    val counts = neu.groupBy("n").agg(count(lit(1)).as("grams_new"))
      .join(old.groupBy("n").agg(count(lit(1)).as("grams_old")), Seq("n"))
    counts.join(novel, Seq("n"), "left_outer")
      .select(col("n"), col("grams_old"), col("grams_new"),
        coalesce(col("novel"), lit(0L)).as("novel"))
      .withColumn("novel_ppm", expr("(1000000 * novel) div grams_new"))
      .orderBy("n")
  }

  /** corpus_term_drift: term-level distribution drift between two
    * corpus snapshots — the monitoring signal behind "did this crawl
    * cycle change what the model will read": top movers by smoothed
    * frequency lift, the per-term complement of [[snapshotDiff]]'s
    * per-doc status counts. The harness derives its two snapshots
    * deterministically (doc_id parity); production points the two
    * sides at real snapshot directories with no plan change.
    *
    *   lift_milli = ((f_a+1) · (T_b+V) · 1000) div ((f_b+1) · (T_a+V))
    *
    * — add-one smoothed so terms present in only one snapshot get a
    * finite, comparable lift; T are per-snapshot token masses, V the
    * union vocabulary size (the classic smoothing denominators). The
    * product runs in DECIMAL(38,0)/HUGEINT (f·T reaches ~1e28 at a
    * 100 T-token corpus). A support floor keeps one-off typos from
    * dominating the movers list.
    *
    * Scale shape: one tokenize+count per side (same shuffle key), a
    * full-outer join on the term key (big-to-big, AQE-skew-split),
    * scalar totals broadcast, and a TakeOrdered top-k — never a
    * global sort.
    *
    * Output: top `k` terms by |lift − 1000| desc, term asc —
    * (term, f_old, f_new, lift_milli).
    */
  def termDrift(spark: SparkSession, sfDir: String,
                minSupport: Long = 20L, k: Int = 20): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    def tf(half: DataFrame): DataFrame = half
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("f"))
    val fa = tf(docs.filter(col("doc_id") % 2 === 0)).withColumnRenamed("f", "f_old")
    val fb = tf(docs.filter(col("doc_id") % 2 =!= 0)).withColumnRenamed("f", "f_new")
    val joined = fa.join(fb, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("f_old"), lit(0L)).as("f_old"),
        coalesce(col("f_new"), lit(0L)).as("f_new"))
    val tot = joined.agg(sum(col("f_old")).as("t_old"), sum(col("f_new")).as("t_new"),
      count(lit(1)).as("v"))
    joined.filter(col("f_old") + col("f_new") >= minSupport)
      .crossJoin(broadcast(tot))
      .withColumn("lift_milli",
        expr("CAST((CAST(f_old + 1 AS DECIMAL(38,0)) * (t_new + v) * 1000) div " +
          "(CAST(f_new + 1 AS DECIMAL(38,0)) * (t_old + v)) AS BIGINT)"))
      .select("term", "f_old", "f_new", "lift_milli")
      .orderBy(abs(col("lift_milli") - 1000L).desc, col("term"))
      .limit(k)
  }

  /** mix_token_budget: token-budget allocator — given a total training
    * budget of `budgetX` x the corpus token count, apportion it across
    * sources by temperature-flattened weights (sqrt of source token
    * counts, the temperatureMix recipe over TOKENS not docs) and cap
    * repetition at `maxEpochsMilli` epochs per source (the
    * data-constrained-scaling rule of thumb: past ~4 epochs, repeated
    * tokens stop paying; Muennighoff et al. 2023). Reports what each
    * source WANTS under the weights, what the epoch cap actually
    * allows, and the shortfall the mix planner must re-apportion.
    *
    * All integer arithmetic; the one wide product (w_ppm x corpus
    * total x budgetX ~ 1e6 x 1e14 x 2 at a 100 T-token corpus) runs in
    * DECIMAL(38,0) so it cannot wrap a BIGINT — the accumulator
    * discipline the CC convergence fix established. Plan is one
    * aggregation over the tokenized corpus to |sources| rows; the
    * windows run over those rows only.
    *
    * Output: (source, n_tokens, w_ppm, want_tokens, epochs_milli,
    * alloc_tokens, shortfall).
    */
  def tokenBudget(spark: SparkSession, sfDir: String,
                  budgetX: Long = 2L, maxEpochsMilli: Long = 4000L): DataFrame = {
    val w = Window.partitionBy() // |sources| rows post-aggregate only
    table(spark, sfDir, "documents")
      .select(col("source"), TextAnalysis.wsTokenCount(col("text")).as("n"))
      .groupBy("source").agg(sum(col("n")).as("n_tokens"))
      .withColumn("s_milli",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000d)).cast("long"))
      .withColumn("tot_s", sum(col("s_milli")).over(w))
      .withColumn("tot_tokens", sum(col("n_tokens")).over(w))
      .withColumn("w_ppm", expr("(1000000 * s_milli) div tot_s"))
      .withColumn("want_tokens",
        expr(s"(cast(w_ppm as decimal(38,0)) * tot_tokens * ${budgetX}L) div 1000000L"))
      .withColumn("epochs_milli",
        least(lit(maxEpochsMilli), expr("(want_tokens * 1000L) div n_tokens")))
      .withColumn("alloc_tokens", expr("(n_tokens * epochs_milli) div 1000L"))
      .select(col("source"), col("n_tokens"), col("w_ppm"), col("want_tokens"),
        col("epochs_milli"), col("alloc_tokens"),
        (col("want_tokens") - col("alloc_tokens")).as("shortfall"))
      .orderBy("source")
  }

  /** mix_epoch_repeat: discrete-epoch allocation under repeat decay —
    * the data-constrained scaling recipe (Muennighoff et al. 2023:
    * repeated epochs are worth progressively less) as a greedy marginal
    * allocator. Each source's epoch e carries a marginal EFFECTIVE
    * token value that decays geometrically,
    * v_1 = U, v_e = (v_{e-1} * decayMilli) div 1000 — the chained
    * integer form, NOT U * decay^(e-1) div 1000^(e-1) in one division:
    * the chained value never exceeds U, so it is BIGINT-safe at any
    * corpus size, while the closed form's numerator (U x 600^3) wraps
    * past ~4e10-token sources. Epoch candidates are ranked by marginal
    * value globally (ties: source, then epoch) and taken while the
    * cumulative RAW token cost fits the budget (budgetX x corpus
    * total). Marginals decrease in e per source, so the greedy take is
    * prefix-closed per source (epoch e is never taken without e-1) and
    * maximizes total effective tokens for the budget — fractional
    * knapsack with equal per-epoch cost within a source.
    *
    * Scale shape: ONE aggregation over the tokenized corpus to
    * |sources| rows; the explode (x maxEpochs) and the ranking window
    * run over |sources| x maxEpochs rows only — the single-partition
    * window is over the bounded candidate table, never the corpus
    * (same stance as [[tokenBudget]]'s weight windows).
    *
    * Output: (source, u_tokens, epochs, raw_tokens, eff_tokens),
    * ordered by source; epochs = 0 rows are kept (the audit must show
    * which sources the budget shut out entirely).
    */
  def epochRepeatPlan(spark: SparkSession, sfDir: String,
                      maxEpochs: Int = 4, decayMilli: Long = 600L,
                      budgetX: Long = 2L): DataFrame = {
    def vExpr(e: Int): String =
      (2 to e).foldLeft("u_tokens")((s, _) => s"(($s * ${decayMilli}L) div 1000L)")
    val vCase = (1 to maxEpochs)
      .map(e => s"WHEN e = ${e}L THEN ${vExpr(e)}")
      .mkString("CASE ", " ", " END")
    val wAll = Window.partitionBy() // |sources| rows post-aggregate only
    val wRank = Window.orderBy(col("v").desc, col("source").asc, col("e").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, sfDir, "documents")
      .select(col("source"), TextAnalysis.wsTokenCount(col("text")).as("n"))
      .groupBy("source").agg(sum(col("n")).as("u_tokens"))
      .withColumn("budget", sum(col("u_tokens")).over(wAll) * lit(budgetX))
      .withColumn("e", explode(sequence(lit(1L), lit(maxEpochs.toLong))))
      .withColumn("v", expr(vCase))
      .withColumn("cum_raw", sum(col("u_tokens")).over(wRank))
      .withColumn("take", col("cum_raw") <= col("budget"))
      .groupBy("source")
      .agg(max(col("u_tokens")).as("u_tokens"),
        sum(when(col("take"), 1L).otherwise(0L)).as("epochs"),
        sum(when(col("take"), col("u_tokens")).otherwise(0L)).as("raw_tokens"),
        sum(when(col("take"), col("v")).otherwise(0L)).as("eff_tokens"))
      .orderBy("source")
  }

  /** corpus_bootstrap: Poisson-bootstrap confidence interval for the
    * corpus mean document length — the one-pass resampling scheme that
    * works on a distributed corpus (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams": classic bootstrap resamples
    * need the whole dataset per replicate; the Poisson approximation
    * gives every row an INDEPENDENT per-replicate weight ~ Poisson(1),
    * so all B replicates ride one scan). Weights are deterministic —
    * the Poisson(1) inverse CDF applied to u = h60("boot:b:doc_id")
    * % 1e6 with integral micro thresholds (P(0)=.367879, P<=1=.735759,
    * P<=2=.919699, P<=3=.981012, P<=4=.996340, else 5) — so the draw is
    * reproducible and the oracle replays it exactly.
    *
    * Scale shape: explode x B (bounded constant fanout) -> ONE hash
    * aggregation on the B replicate keys (map-side partials collapse
    * each input partition to B rows) -> rank over B rows. The quantile
    * CI (percentile ranks over the sorted replicate means) never
    * touches the corpus again.
    *
    * Output: 1 row (n_resamples, mean_milli, ci_lo_milli, ci_hi_milli):
    * the full-corpus point estimate with the [p5, p95] band of the
    * replicate means, all in integral milli chars-per-doc.
    */
  def bootstrapMeanLength(spark: SparkSession, sfDir: String,
                          b: Int = 32): DataFrame = {
    val u = pmod(graft.functions.OracleHash.h60(
      concat(lit("boot:"), col("b").cast("string"), lit(":"),
        col("doc_id").cast("string"))), lit(1000000L))
    val wPois = when(u < 367879L, 0L).when(u < 735759L, 1L)
      .when(u < 919699L, 2L).when(u < 981012L, 3L)
      .when(u < 996340L, 4L).otherwise(5L)
    // replicate 0 carries weight 1 everywhere = the exact point
    // estimate, riding the SAME pass (no second corpus scan, and no
    // 1-row-x-1-row join the plan sweep would flag)
    val reps = table(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("b", explode(sequence(lit(0L), lit(b.toLong))))
      .withColumn("w", when(col("b") === 0L, 1L).otherwise(wPois))
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("n_chars")).as("mass"))
      // a replicate can only draw zero mass on a toy corpus
      // (P = 0.368^N) — dropped for div-safety, same guard the oracle
      // applies; b=0 always survives (its weights are all 1)
      .filter(col("n_eff") > 0L)
      .withColumn("rep_mean", expr("(1000 * mass) div n_eff"))
    val wAll = Window.partitionBy() // B+1 rows only
    val loRank = math.max(1, math.ceil(0.05 * b).toInt)
    val hiRank = math.max(1, math.ceil(0.95 * b).toInt)
    reps
      // replicates first (ranked by mean), the point-estimate row last
      .withColumn("rk", row_number().over(Window.orderBy(
        when(col("b") === 0L, 1).otherwise(0).asc,
        col("rep_mean").asc, col("b").asc)))
      .withColumn("lo",
        max(when(col("rk") === loRank, col("rep_mean"))).over(wAll))
      .withColumn("hi",
        max(when(col("rk") === hiRank, col("rep_mean"))).over(wAll))
      .filter(col("b") === 0L)
      .select(lit(b.toLong).as("n_resamples"),
        col("rep_mean").as("mean_milli"),
        col("lo").as("ci_lo_milli"), col("hi").as("ci_hi_milli"))
  }

  /** corpus_chi2: chi-square independence audit of the lang x source
    * contingency table — the drift monitor behind "did one crawl start
    * pulling a different language mix" (a shifted cell shows up as a
    * large contribution long before eyeballing histograms does). Per
    * observed cell: expected count under independence
    * e_milli = (1000 * row_total * col_total) div N and the cell's
    * chi-square contribution ((1000*o - e_milli)^2) div (1000 *
    * e_milli), both integral so the oracle replays them. The products
    * run in DECIMAL(38,0) — row x col totals square the corpus size,
    * and (1000*o - e)^2 squares it again: the BIGINT-safe accumulator
    * discipline, not a result cast. A replicated total column (over
    * the bounded cell table) gives the drift scalar. Zero-observed
    * cells are NOT listed (their contribution is just e_milli; at
    * corpus scale every populated stratum appears, and missing strata
    * are the coverage audit's job) — the statistic is over observed
    * cells, stated plainly.
    *
    * Scale shape: ONE aggregation over documents to |langs x sources|
    * rows; margins, expectations and the total are windows over that
    * bounded cell table only.
    *
    * Output: (lang, source, n_obs, e_milli, chi2_milli,
    * chi2_total_milli), ordered.
    */
  def langSourceChi2(spark: SparkSession, sfDir: String): DataFrame = {
    val wAll = Window.partitionBy()
    table(spark, sfDir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .withColumn("r", sum(col("o")).over(Window.partitionBy("lang")))
      .withColumn("c", sum(col("o")).over(Window.partitionBy("source")))
      .withColumn("n", sum(col("o")).over(wAll))
      .withColumn("e_milli",
        expr("CAST((1000 * CAST(r AS DECIMAL(38,0)) * c) div n AS BIGINT)"))
      .withColumn("chi2_milli", expr(
        "CAST(((1000 * CAST(o AS DECIMAL(38,0)) - e_milli) * " +
          "(1000 * CAST(o AS DECIMAL(38,0)) - e_milli)) div " +
          "(1000 * greatest(e_milli, 1L)) AS BIGINT)"))
      .withColumn("chi2_total_milli", sum(col("chi2_milli")).over(wAll))
      .select(col("lang"), col("source"), col("o").as("n_obs"),
        col("e_milli"), col("chi2_milli"), col("chi2_total_milli"))
      .orderBy("lang", "source")
  }

  /** corpus_sketch_profile: the mergeable-sketch corpus profile — the
    * ONLY shape per-source distinct-token stats can take at 100 TB.
    * Exact distinct does not merge: two shards' distinct counts cannot
    * be added, so a naive profile re-shuffles every token occurrence to
    * one reducer per source. The production pattern profiles each shard
    * INDEPENDENTLY into a fixed-size HLL sketch (Datasketches, the
    * engine-portable format Spark 3.5+ exposes as hll_sketch_agg), then
    * merges per-source with hll_union_agg — level 1 is embarrassingly
    * parallel and resumable per shard, level 2 shuffles one ~2^lgK-byte
    * sketch per (source, shard), not a token stream. The same persisted
    * sketch column is how a profile folds in NEW shards without
    * touching old ones (the dedup_incremental discipline applied to
    * statistics).
    *
    * The exact side computed here is the test-scale AUDIT of that
    * claim, same discipline as urlcount_approx_distinct's HLL++ gate
    * and urlcount_cms: the union estimate is compared against exact
    * count_distinct IN the plan and surfaced as a boolean the oracle
    * expects TRUE — a drifting sketch fails the hash gate loudly. At
    * production scale the exact branch is simply dropped.
    *
    * Output: (source, n_shards, n_tokens, n_distinct_exact,
    * union_within_tolerance), ordered by source.
    */
  def sketchProfile(spark: SparkSession, sfDir: String,
                    shards: Int = 8, lgK: Int = 12,
                    tol: Double = 0.05): DataFrame = {
    val toks = sourceTokens(table(spark, sfDir, "documents"), shards)
    val perShard = shardSketches(toks, lgK)
    val merged = perShard.groupBy("source")
      .agg(count(lit(1)).as("n_shards"),
        sum(col("n")).cast("long").as("n_tokens"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = toks.groupBy("source")
      .agg(count_distinct(col("token")).as("n_distinct_exact"))
    merged.join(exact, Seq("source"))
      .select(col("source"), col("n_shards"), col("n_tokens"),
        col("n_distinct_exact"),
        (abs(col("est") - col("n_distinct_exact")) <=
          col("n_distinct_exact") * lit(tol)).as("union_within_tolerance"))
      .orderBy("source")
  }

  /** (source, shard, token) occurrences — the profile family's shared
    * explode (shard = doc_id mod `shards`, the stand-in for the real
    * ingest file split).
    */
  private def sourceTokens(docs: DataFrame, shards: Int): DataFrame =
    docs.select(col("source"), pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
      explode(filter(split(col("text"), " "), t => length(t) > 0)).as("token"))

  /** Per-batch (source, shard) sketches straight from a docs frame —
    * the unit the streaming fold-in (StreamingOps.streamProfileFold)
    * appends to the persisted store per micro-batch.
    */
  private[graft] def shardSketchesOf(docs: DataFrame, shards: Int,
                                     lgK: Int): DataFrame =
    shardSketches(sourceTokens(docs, shards), lgK)

  /** One HLL sketch + token count per (source, shard). */
  private def shardSketches(toks: DataFrame, lgK: Int): DataFrame =
    toks.groupBy("source", "shard")
      .agg(hll_sketch_agg(col("token"), lit(lgK)).as("sk"),
        count(lit(1)).as("n"))

  /** corpus_profile_refresh: the PERSISTED profile lifecycle — what
    * turns the sketch profile from a query into infrastructure. The
    * per-shard sketches land in a parquet table BUCKETED BY SOURCE
    * (Bucketed.writeBucketed, run-scoped name), a new batch's sketches
    * fold in with appendBucketed — old shards' tokens are never re-read
    * — and the per-source rollup reads co-located buckets, so the
    * union aggregation plans with NO Exchange on the store side: the
    * shuffle was paid once at ingest, the daily stats query pays none.
    * This is dedup_index_refresh's build -> fold-in -> serve discipline
    * applied to statistics, possible ONLY because sketches merge
    * (exact distinct state cannot be folded in, it must be rebuilt).
    *
    * The audit half proves the fold-in lost nothing: the union over the
    * folded store is gated against exact count_distinct over the FULL
    * corpus (TRUE expected by the oracle). n_sketches counts stored
    * rows per source — base and fold-in batches sketch the same
    * (source, shard) keys separately, the redundancy a compaction pass
    * (dedup_index_compact's semi-join discipline) would reclaim.
    *
    * Output: (source, n_sketches, n_tokens, n_distinct_exact,
    * union_within_tolerance), ordered by source.
    */
  def profileRefreshAudit(spark: SparkSession, sfDir: String,
                          shards: Int = 8, lgK: Int = 12, mod: Int = 4,
                          tol: Double = 0.05, nBuckets: Int = 8): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val name = graft.sources.Bucketed.scopedName(spark, "graft_profile_store")
    graft.sources.Bucketed.writeBucketed(spark,
      shardSketches(sourceTokens(docs.filter(col("doc_id") % mod =!= 0), shards), lgK),
      name, graft.sources.Bucketed.scopedPath(spark, name), "source", nBuckets)
    graft.sources.Bucketed.appendBucketed(spark,
      shardSketches(sourceTokens(docs.filter(col("doc_id") % mod === 0), shards), lgK),
      name, "source", nBuckets)
    val merged = spark.table(name).groupBy("source")
      .agg(count(lit(1)).as("n_sketches"),
        sum(col("n")).cast("long").as("n_tokens"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = sourceTokens(docs, shards).groupBy("source")
      .agg(count_distinct(col("token")).as("n_distinct_exact"))
    merged.join(exact, Seq("source"))
      .select(col("source"), col("n_sketches"), col("n_tokens"),
        col("n_distinct_exact"),
        (abs(col("est") - col("n_distinct_exact")) <=
          col("n_distinct_exact") * lit(tol)).as("union_within_tolerance"))
      .orderBy("source")
  }

  /** corpus_profile_compact: the maintenance rung that completes the
    * profile store's lifecycle (build -> fold-in -> COMPACT, the
    * dedup_index_compact discipline for statistics). Repeated fold-ins
    * accumulate one sketch row per (source, shard, batch); compaction
    * rewrites the store to one sketch per (source, shard) by UNIONING
    * the stored sketches themselves — no token is ever re-read, which
    * is exactly the operation exact distinct state cannot support.
    * With mod = 3 and shards = 8 the batch split interleaves shards,
    * so base and fold-in batches genuinely collide on (source, shard)
    * keys and compaction reclaims real rows.
    *
    * The audit emits before/after row counts per source and gates the
    * COMPACTED store's union against exact count_distinct over the
    * full corpus — proving the rewrite lost nothing.
    *
    * Output: (source, n_sketches_before, n_sketches_after, n_tokens,
    * n_distinct_exact, union_within_tolerance), ordered by source.
    */
  def profileCompactAudit(spark: SparkSession, sfDir: String,
                          shards: Int = 8, lgK: Int = 12, mod: Int = 3,
                          tol: Double = 0.05, nBuckets: Int = 8): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val name = graft.sources.Bucketed.scopedName(spark, "graft_profile_store_cpt")
    graft.sources.Bucketed.writeBucketed(spark,
      shardSketches(sourceTokens(docs.filter(col("doc_id") % mod =!= 0), shards), lgK),
      name, graft.sources.Bucketed.scopedPath(spark, name), "source", nBuckets)
    graft.sources.Bucketed.appendBucketed(spark,
      shardSketches(sourceTokens(docs.filter(col("doc_id") % mod === 0), shards), lgK),
      name, "source", nBuckets)
    val store = spark.table(name)
    val compacted = store.groupBy("source", "shard")
      .agg(hll_union_agg(col("sk")).as("sk"), sum(col("n")).cast("long").as("n"))
    val outName =
      graft.sources.Bucketed.scopedName(spark, "graft_profile_store_cptd")
    graft.sources.Bucketed.writeBucketed(spark, compacted,
      outName, graft.sources.Bucketed.scopedPath(spark, outName), "source", nBuckets)
    val before = store.groupBy("source")
      .agg(count(lit(1)).as("n_sketches_before"))
    val after = spark.table(outName).groupBy("source")
      .agg(count(lit(1)).as("n_sketches_after"),
        sum(col("n")).cast("long").as("n_tokens"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = sourceTokens(docs, shards).groupBy("source")
      .agg(count_distinct(col("token")).as("n_distinct_exact"))
    before.join(after, Seq("source")).join(exact, Seq("source"))
      .select(col("source"), col("n_sketches_before"), col("n_sketches_after"),
        col("n_tokens"), col("n_distinct_exact"),
        (abs(col("est") - col("n_distinct_exact")) <=
          col("n_distinct_exact") * lit(tol)).as("union_within_tolerance"))
      .orderBy("source")
  }
}
