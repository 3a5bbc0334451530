package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftSession.table
import graft.functions.OracleHash
import graft.Materialize.MaterializeOps

/** Text-analysis operators for an LLM training-data pipeline: token
  * counting, quality scoring, language ID, document fingerprinting.
  * All narrow (per-row) transforms — no shuffle except the final
  * presentation ORDER BY, so they scale embarrassingly at 100 TB.
  * Everything stays inside whole-stage codegen (builtin functions only,
  * no UDFs).
  */
object TextAnalysis {

  /** Number of non-empty whitespace-separated tokens. */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0)).cast("long")

  /** BPE-ish subword count: alphanumeric runs and single non-space
    * symbols each count as one token (a cheap proxy for a BPE vocab's
    * pre-tokenizer; the real tokenizer would be a dictionary lookup).
    * The symbol term counts CHARACTERS that are neither alphanumeric nor
    * whitespace — strip both classes and take the remaining length.
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "[^a-zA-Z0-9]+"), t => length(t) > 0)).cast("long") +
      length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("long")

  /** Per-document token statistics. */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        wsTokenCount(col("text")).as("n_tokens"),
        subwordCount(col("text")).as("n_subwords"))
      .orderBy("doc_id")

  /** Quality signals: doc length, mean word length (x1000, integer — no
    * float-division drift), punctuation count, stopword count, and a
    * composite keep/drop flag in the style of Gopher/C4 quality rules.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast("long")
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[\\.,;:!\\?]", ""))).cast("long")
    table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nTok.as("n_tokens"),
        // mean word length in millichars: integer math, oracle-exact;
        // NULL for token-free docs (guard both engines — Spark's /0 is
        // NULL but DuckDB's floor(x/0) is inf, a cross-engine divergence)
        when(nTok > 0,
          (((length(col("text")) - (nTok - lit(1))) * lit(1000)) / nTok).cast("long"))
          .otherwise(lit(null).cast("long")).as("mean_word_len_milli"),
        nPunct.as("n_punct"),
        nStop.as("n_stopwords"),
        (nTok >= 10 && nTok <= 100000 && nStop * lit(100) >= nTok).as("quality_keep"))
      .orderBy("doc_id")
  }

  /** Language ID by stopword-family hit counting (n-gram-free heuristic:
    * count hits from tiny per-language function-word lists; argmax with
    * deterministic tie-break by language code). A real pipeline would
    * swap in fastText/CLD3 via the Multimodal-style stub seam — the
    * plumbing (per-row classify, groupable output) is identical.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val families: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("der", "und", "die", "nicht", "das"),
      "en" -> Seq("the", "and", "of", "to", "is"),
      "es" -> Seq("el", "la", "los", "que", "de"),
      "fr" -> Seq("le", "la", "les", "et", "est"),
      "zh" -> Seq("的", "是", "不", "了", "在"))
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    def hits(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words.map(lit(_)): _*))).cast("long")
    // argmax over (hits desc, lang asc) via a sorted struct array
    val scored = array(families.map { case (lang, ws) =>
      struct((lit(-1) * hits(ws)).as("neg"), lit(lang).as("lang"))
    }: _*)
    val best = array_sort(scored).getItem(0)
    table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        best.getField("lang").as("pred_lang"),
        (lit(-1) * best.getField("neg")).cast("long").as("pred_hits"))
      .orderBy("doc_id")
  }

  /** text_lexical_richness: per-source type-token and hapax ratios —
    * the lexical-richness QA line a corpus report carries next to the
    * Gopher structural gates: machine-generated or template text shows
    * a collapsed type-token ratio (few types re-used many times), while
    * OCR noise and mojibake inflate hapax share (many once-seen
    * "types" that are really errors); both ends of the band are review
    * queues. Exact integer millis over one tokenize pass.
    *
    * Scale shape: one (source, token) aggregation with map-side
    * partials (the urlcount_zipf shuffle shape), then per-source
    * rollups over the |sources x types| rows — a hot token collapses
    * to one partial per partition before the exchange. Output:
    * (source, n_tokens, n_types, n_hapax, ttr_milli, hapax_milli),
    * ordered.
    */
  def lexicalRichness(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("source"),
        explode(filter(split(lower(col("text")), " "),
          t => length(t) > 0)).as("token"))
      .groupBy("source", "token")
      .agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("(1000 * n_types) div n_tokens").as("ttr_milli"),
        expr("(1000 * n_hapax) div n_types").as("hapax_milli"))
      .orderBy("source")

  /** text_langid_confusion: declared-vs-inferred language CONFUSION
    * MATRIX — the calibration table read before trusting [[langId]]'s
    * heuristic as a filter: a production corpus carries a declared
    * `lang` (crawl metadata, often wrong), the n-gram detector infers
    * one, and routing/filtering decisions need to know WHERE they
    * disagree and how much of the disagreement rests on zero evidence
    * (no stopword hit at all — the detector's "don't know", which the
    * argmax silently turns into its tie-break language).
    *
    * Per (labeled, predicted) cell: doc count, zero-evidence count, and
    * the cell's share of its labeled language's docs in millis (the
    * per-row normalization a confusion matrix is read by). Scale shape:
    * the per-row langId projection plus one |langs|^2-bounded rollup
    * and a window over those bounded rows. Output ordered by
    * (labeled_lang, pred_lang).
    */
  def langIdConfusion(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .groupBy("labeled_lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred_hits") === 0L, 1L).otherwise(0L)).as("n_zero_evidence"))
      .withColumn("row_milli",
        expr("(1000 * n_docs) div sum(n_docs) over (partition by labeled_lang)"))
      .orderBy("labeled_lang", "pred_lang")

  /** Intra-document repetition (a Gopher/C4-family quality signal): the
    * fraction of n-gram OCCURRENCES that repeat an earlier occurrence in
    * the same doc, in exact thousandths — rep_milli = floor((total -
    * distinct) * 1000 / total). High repetition marks boilerplate, SEO
    * spam and template text, the classic pre-training drop rule that
    * pure length/stopword gates miss. Narrow per-row array math (native
    * shingle expression + array_distinct); docs with no full n-gram are
    * excluded (no denominator). No shuffle except the presentation sort.
    */
  def repetitionScore(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.functions.ShingleColumns.wordShingles(col("text"), n).as("sh"))
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_shingles"),
        size(array_distinct(col("sh"))).cast("long").as("n_distinct"))
      .filter(col("n_shingles") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        floor((col("n_shingles") - col("n_distinct")) * lit(1000) / col("n_shingles"))
          .cast("long").as("rep_milli"))
      .orderBy("doc_id")

  /** Deterministic stratified train/val/test split: bucket = h60 of the
    * doc id mod 100 -> train (0-97) / val (98) / test (99). Hash-based
    * membership is the only split that survives a growing, re-ordered,
    * re-partitioned corpus (row-number splits reshuffle membership on
    * every ingest) and it needs no shuffle at all — each row decides
    * locally. Emits the per-(source, split) counts: the stratification
    * report a pipeline logs; the split column itself is the same
    * expression applied at write time.
    */
  def stratifiedSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = OracleHash.h60(col("doc_id").cast("string")) % 100
    table(spark, sfDir, "documents")
      .select(col("source"),
        when(bucket <= 97, "train").when(bucket === 98, "val")
          .otherwise("test").as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "split")
  }

  /** split_leakage: cross-split contamination audit — for the SAME
    * hash-stable split assignment as sample_split, count exact-dup
    * document contents that appear on BOTH sides of each split pair.
    * This is the bug-check every training pipeline runs on its
    * held-out sets: a val/test doc whose exact content also sits in
    * train silently inflates eval numbers, and row-level splitting
    * cannot see it because the duplicates have different doc_ids.
    * Reports, per split pair, how many distinct contents leak and how
    * many docs of the later split are compromised.
    *
    * Scale shape: ONE map-side-combinable aggregation on the content
    * hash (three conditional counts ride in the same pass), a scalar
    * rollup, and a 3-row stack — linear at any corpus size, no joins.
    *
    * Output: (pair, n_shared_contents, n_leaked_docs).
    */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = OracleHash.h60(col("doc_id").cast("string")) % 100
    val perHash = table(spark, sfDir, "documents")
      .select(md5(col("text")).as("h"),
        when(bucket <= 97, "train").when(bucket === 98, "val")
          .otherwise("test").as("split"))
      .groupBy("h")
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    perHash
      .agg(
        sum(when(col("n_train") > 0 && col("n_val") > 0, 1L).otherwise(0L)).as("c_tv"),
        sum(when(col("n_train") > 0 && col("n_val") > 0, col("n_val"))
          .otherwise(0L)).as("d_tv"),
        sum(when(col("n_train") > 0 && col("n_test") > 0, 1L).otherwise(0L)).as("c_tt"),
        sum(when(col("n_train") > 0 && col("n_test") > 0, col("n_test"))
          .otherwise(0L)).as("d_tt"),
        sum(when(col("n_val") > 0 && col("n_test") > 0, 1L).otherwise(0L)).as("c_vt"),
        sum(when(col("n_val") > 0 && col("n_test") > 0, col("n_test"))
          .otherwise(0L)).as("d_vt"))
      .selectExpr("""stack(3,
        'train_val',  c_tv, d_tv,
        'train_test', c_tt, d_tt,
        'val_test',   c_vt, d_vt) AS (pair, n_shared_contents, n_leaked_docs)""")
      .orderBy("pair")
  }

  /** Context-window chunking — the step between corpus cleaning and
    * tokenization in a training pipeline: split each doc's token stream
    * into windows of `maxTokens` tokens advancing by a stride of
    * (maxTokens - overlap), so consecutive chunks share `overlap`
    * tokens. Chunk starts at 0, stride, 2*stride, ... while < n_tokens;
    * the last chunk may be short. Surfaced compactly as (doc_id,
    * chunk_idx, n_chunk_tokens, chunk_md5) — the hash proves the chunk
    * CONTENT cross-engine without shipping the text itself. Narrow
    * per-row explode, no shuffle except the presentation sort.
    */
  def chunkDocs(spark: SparkSession, sfDir: String,
                maxTokens: Int = 64, overlap: Int = 8): DataFrame = {
    require(overlap < maxTokens, "overlap must be smaller than maxTokens")
    val stride = maxTokens - overlap
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    table(spark, sfDir, "documents")
      .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), floor((col("n") - 1) / stride).cast("int"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * stride + 1, lit(maxTokens)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Per-source length-distribution sketch: exact doc count, exact
    * median, and approx-percentile (Greenwald–Khanna summary —
    * mergeable, bounded memory, the 100 TB way to get quantiles)
    * p50/p90/p99 of n_chars, each GATED in the plan: the sketch value
    * must lie between the exact quantiles at q ± 5% (the same 5%
    * in-plan tolerance the HLL++ twin uses; GK's own rank guarantee at
    * accuracy 100 is 1%, so the gate only trips on a real sketch bug —
    * the wide margin absorbs rank-convention off-by-ones in tiny
    * groups). Surfaced columns are exact (count, interpolated median,
    * booleans), so the DuckDB oracle verifies the sketch landed
    * in-bound without replaying GK. As with the HLL twin, production
    * runs only the sketch; the exact comparators are the verification
    * harness.
    */
  def lengthQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile_approx(n_chars, array(0.5D, 0.9D, 0.99D), 100)").as("ap"),
        expr("percentile(n_chars, array(0.45D, 0.55D, 0.85D, 0.95D, 0.94D, 1.0D))").as("ex"),
        expr("percentile(n_chars, 0.5D)").as("p50_chars"))
      .select(col("source"), col("n_docs"), col("p50_chars"),
        (col("ap")(0) >= col("ex")(0) && col("ap")(0) <= col("ex")(1)).as("p50_ok"),
        (col("ap")(1) >= col("ex")(2) && col("ap")(1) <= col("ex")(3)).as("p90_ok"),
        (col("ap")(2) >= col("ex")(4) && col("ap")(2) <= col("ex")(5)).as("p99_ok"))
      .orderBy("source")

  /** Top-k characteristic terms per document by TF-IDF — the classic
    * "what is this document about" signal (keyword extraction, topic
    * balancing, near-dup triage). The IDF here is the exact-rational
    * form idf_milli = (N * 1000) div df (linear inverse document
    * frequency, floored integer division) instead of the textbook
    * log(N/df): both weightings induce the same "rarer terms rank
    * higher" order for fixed tf, and the integer form is bit-identical
    * across engines — a float log's last-ulp differences under a
    * floor() would make the oracle hash flaky (the same reason every
    * other score in this repo is integral). score_milli = tf *
    * idf_milli; ties break by term ascending, so top-k is total.
    *
    * Plan shape at 100 TB: explode -> partial-aggregated (doc, term)
    * counts (one shuffle), term-level df (second shuffle, input already
    * one row per (doc, term)), a 1-row broadcast of the corpus size, a
    * term-keyed join of tf to df (AQE skew-splits the stopword keys),
    * and a doc-keyed window for the top-k (third shuffle). No driver
    * materialization anywhere.
    */
  def tfidfTopTerms(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val terms = docs.select(col("doc_id"),
      explode(filter(split(lower(col("text")), " "), t => length(t) > 0)).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_milli").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score_milli", col("tf") * expr("(n_docs * 1000) div df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score_milli"), col("rk"))
      .orderBy("doc_id", "rk")
  }

  /** The default retrieval workload for `bm25TopK` / `streamBm25`:
    * five 3-term queries DERIVED from the corpus itself — query i's
    * terms are the 3 lexicographically largest distinct tokens of the
    * i-th smallest doc with doc_id % 100 == 0. Derived, not hardcoded
    * (round 16): a fixed term list is vacuously 0-row on any corpus
    * with a different vocabulary (the Zipf retrieval corpus made the
    * old "spark table join" workload score nothing), while this rule
    * is deterministic on every corpus, stays FIXED as replication
    * grows the corpus (the 5 source docs are the smallest ids), and
    * the oracle mirrors it exactly (same sort, same slice). ASCII
    * assumption (ADVICE r16): the "same string order both sides"
    * invariant holds because Spark sorts by UTF-16 code units and
    * DuckDB by UTF-8 bytes — identical orders ONLY over ASCII; a
    * non-ASCII vocabulary can rank U+E000..U+FFFF vs supplementary-
    * plane tokens differently and the gate would hash-mismatch. Both
    * harness corpora are ASCII; the mirror site
    * (SparkEntry.bm25ScoreCtes) documents the same constraint.
    * A production run passes its own
    * (query_id, text) workload; the scoring plan is
    * workload-size-independent as long as the term dimension stays
    * broadcastable (thousands of stored queries are still KBs).
    */
  // stored for the run: the workload is run metadata — a stored-queries
  // table in production — and re-deriving it per call re-scans
  // documents (measured ~0.3 s/call at sf0.1). A driver-side value:
  // eviction drops the stale entry itself, nothing else to release.
  private val bm25WorkloadStores =
    new graft.ArtifactStore[Seq[(Long, String)]]("text.bm25Workload")(_ => ())
  def defaultBm25Workload(spark: SparkSession,
                          sfDir: String): Seq[(Long, String)] =
    bm25WorkloadStores.getOrBuild(spark, sfDir, Seq("documents")) {
      table(spark, sfDir, "documents")
        .filter(col("doc_id") % 100 === 0)
        .orderBy("doc_id").limit(5)
        .select(concat_ws(" ", slice(reverse(array_sort(array_distinct(
          filter(split(lower(col("text")), " "), t => length(t) > 0)))),
          1, 3)).as("qtext"))
        .collect().toSeq.zipWithIndex
        .map { case (r, i) => (i.toLong, r.getString(0)) }
    }

  /** text_bm25: BM25 top-k retrieval over an inverted index — the
    * ranked-search primitive an LLM-data pipeline uses for
    * retrieval-based decontamination ("which training docs score high
    * against an eval question"), RAG corpus serving, and targeted
    * quality audits (Robertson & Zaragoza 2009, "The Probabilistic
    * Relevance Framework: BM25 and Beyond"; k1 = 1.2, b = 0.75).
    *
    * All-integer scoring (same discipline as `tfidfTopTerms`: a float
    * log's last-ulp differences under floor() would make the oracle
    * hash flaky). With N = corpus docs, tot = corpus token count:
    *   idf_milli(t)   = ((2N - 2df + 1) * 1000) div (2df + 1)
    *     — the exact Robertson idf rational (N - df + 0.5)/(df + 0.5)
    *       in millis, log dropped: same descending-df order, floored
    *       integer division, bit-identical across engines.
    *   tfn_milli(t,d) = (22000 * tf * tot)
    *                    div (10*tot*tf + 3*tot + 9*dl*N)
    *     — tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with k1 = 1.2,
    *       b = 0.75, avgdl = tot/N, numerator and denominator both
    *       multiplied by 10*tot to clear every fraction exactly.
    *   score_micro(q,d) = sum over q's terms of idf_milli * tfn_milli.
    * Long-safe while 22000*tf*tot < 2^63 (tf*tot < 4e14, i.e. far past
    * any single-table bench here); beyond that the identical plan runs
    * with the operands cast decimal(38,0).
    *
    * Plan shape at 100 TB: index build = one explode pass feeding
    * (doc, term, tf) + per-doc dl, joined doc-keyed so every posting
    * carries its document's length — the standard materialized inverted
    * index (postings store the norm, so serving never touches the
    * corpus). Serving = per-query-term df dimension built by joining
    * the BROADCAST query workload to the term-df aggregate (tiny:
    * |workload terms| rows, re-broadcast), hash-joined into the
    * postings — the corpus-sized side is pruned to query-term postings
    * with zero extra shuffles. Top-k per query runs as the bounded
    * TopKTagAgg (k-entry buffers merge map-side), NOT a per-query
    * window: one hot query never lands its whole candidate set on one
    * task. Ties: score desc, then doc_id STRING ascending (the
    * aggregate's total order; oracle mirrors with a VARCHAR cast).
    *
    * Output: (query_id, doc_id, score_micro, rk), rk = 1..k, ordered.
    */
  def bm25TopK(spark: SparkSession, sfDir: String,
               queries: Seq[(Long, String)] = Nil,
               k: Int = 5): DataFrame = {
    val qs = if (queries.nonEmpty) queries else defaultBm25Workload(spark, sfDir)
    val docs = table(spark, sfDir, "documents")
    val terms = docs.select(col("doc_id"),
      explode(filter(split(lower(col("text")), " "), t => length(t) > 0)).as("term"))
    // index build: postings carry (term, doc_id, tf, dl)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val postings = tf.join(dl, "doc_id")
    // corpus stats: 1-row broadcast
    val stats = terms.agg(count(lit(1)).as("tot"))
      .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qdim = broadcast(bm25QueryTerms(spark, qs).join(dft, "term"))
    bm25Serve(postings, qdim, stats, k)
  }

  /** The broadcast query-workload dimension: (query_id, term), terms
    * lowercased and de-duplicated per query.
    */
  private def bm25QueryTerms(spark: SparkSession,
                             queries: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    queries.toDF("query_id", "qtext")
      .select(col("query_id"),
        explode(array_distinct(filter(split(lower(col("qtext")), " "),
          t => length(t) > 0))).as("term"))
  }

  /** The BM25 serving tail shared by the inline form ([[bm25TopK]]) and
    * the persisted-index form ([[bm25Indexed]]): integral Robertson
    * scoring over (postings x broadcast query dim x 1-row stats), then
    * the bounded per-query top-k aggregate.
    */
  private def bm25Serve(postings: DataFrame, qdim: DataFrame,
                        stats: DataFrame, k: Int,
                        excludeSelf: Boolean = false,
                        rebalance: Boolean = false): DataFrame = {
    // WIDTH, not pruning: a bucketed file scan is one task per FILE —
    // never split by size — so at volume the candidate join + scoring
    // aggregate ran only file-count wide off the stored postings table
    // (measured at 100x: the hybrid lexical half 211 s narrow vs
    // ~15 s at full width). One narrow-row rebalance of the
    // (already scan-pruned) posting rows restores the session's full
    // parallelism; the pushed IN/bucket pruning happens at the scan,
    // before this exchange, unchanged (TextAnalysisSpec pins it).
    // CONDITIONAL: the exchange is pure overhead when the postings are
    // already session-wide — always true for the inline form
    // (aggregate output = shuffle width; an unconditional exchange
    // cost text_bm25 0.71 -> 1.30 s at 1x) and for small stored tables
    // — so only the store-served callers opt in, via serveRebalance's
    // size/width gate.
    val widened =
      if (rebalance)
        postings.repartition(graft.Rebalance.sessionWidth(postings.sparkSession))
      else postings
    val joined = widened.join(qdim, "term")
    // query-by-document workloads rank the anchor's own document first
    // by construction; drop it BEFORE scoring so the top-k buffer never
    // carries the degenerate self-match
    val candidates =
      if (excludeSelf) joined.filter(col("doc_id") =!= col("query_id"))
      else joined
    val scored = candidates
      .crossJoin(broadcast(stats))
      .withColumn("idf_milli",
        expr("((2*n_docs - 2*df + 1) * 1000) div (2*df + 1)"))
      .withColumn("tfn_milli",
        expr("(22000 * tf * tot) div (10*tot*tf + 3*tot + 9*dl*n_docs)"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("idf_milli") * col("tfn_milli")).as("score_micro"))
    scored.groupBy("query_id")
      .agg(graft.functions.TopKSketch.topK(col("score_micro"),
        col("doc_id").cast("string"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("query_id"), col("t.tag").cast("long").as("doc_id"),
        col("t.n").as("score_micro"), (col("i") + 1).cast("long").as("rk"))
      .orderBy("query_id", "rk")
  }

  /** Whether a store-served postings scan needs the [[bm25Serve]] width
    * rebalance: only when the stored table is big enough that file-count
    * width is the bottleneck (a bucketed scan is one task per FILE) AND
    * the scan would actually run narrower than the session. The stored
    * relation's stats are exact file mass (checked FIRST — the partition
    * probe plans the scan, so the cheap gate short-circuits it at 1x).
    * The planned-width check stays: table stats cannot show that a
    * bucketed scan runs one task per bucket file. At sf0.1 the postings
    * table is ~1 MB -> skip (no 1x exchange); at 100x it is hundreds of
    * MB -> rebalance (keeps the 211 -> 149 s win).
    */
  private[graft] def serveRebalance(spark: SparkSession, name: String,
                                    minBytes: Long = serveWidenMinBytes): Boolean = {
    val rel = spark.table(name)
    rel.queryExecution.optimizedPlan.stats.sizeInBytes >= minBytes &&
      rel.rdd.getNumPartitions < graft.Rebalance.sessionWidth(spark)
  }
  private val serveWidenMinBytes: Long = 64L << 20

  /** Build-once-per-run BM25 index store: the bucketed postings table
    * (term, doc_id, tf, dl) plus the 1-row (tot, n_docs) stats table.
    * The FIRST caller in a run pays the corpus tokenize + tf/dl
    * aggregation and writes both
    * tables; every later caller reads the stored relations — so
    * text_bm25_indexed, both hybrid-RRF forms and the streaming
    * percolator's artifact pull share ONE index build per run, the way
    * one search deployment serves many query workloads from one
    * index. Returns (postingsTable, statsTable) catalog names.
    */
  // release is a NO-OP by design: the table names are deterministic per
  // sfDir, so a rebuild's DROP TABLE + overwrite already reclaims the old
  // index files — a release-by-name would drop the NEW build instead.
  private val bm25Stores =
    new graft.ArtifactStore[(String, String)]("text.bm25Index")(_ => ())
  private[graft] def bm25Store(spark: SparkSession, sfDir: String): (String, String) =
    bm25Stores.getOrBuild(spark, sfDir, Seq("documents")) {
      locally {
        val docs = table(spark, sfDir, "documents")
        val terms = docs.select(col("doc_id"),
          explode(filter(split(lower(col("text")), " "), t => length(t) > 0)).as("term"))
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val suffix = Integer.toHexString(sfDir.hashCode & 0x7fffffff)
        val name = graft.sources.Bucketed.scopedName(spark, s"graft_bm25_index_$suffix")
        graft.sources.Bucketed.writeBucketed(spark, tf.join(dl, "doc_id"),
          name, graft.sources.Bucketed.scopedPath(spark, name), "term", 8)
        val statsName = graft.sources.Bucketed.scopedName(spark, s"graft_bm25_stats_$suffix")
        spark.sql(s"DROP TABLE IF EXISTS $statsName")
        terms.agg(count(lit(1)).as("tot"))
          .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
          .write.format("parquet")
          .option("path", graft.sources.Bucketed.scopedPath(spark, statsName))
          .mode("overwrite").saveAsTable(statsName)
        (name, statsName)
      }
    }

  /** text_bm25_indexed: the inverted index OUTLIVES the query — the
    * retrieval analog of `sim_ivf_indexed`'s stored posting lists.
    * Build once: (term, doc_id, tf, dl) postings written as parquet
    * BUCKETED BY term and SORTED within buckets (graft.sources
    * .Bucketed, run-scoped name), plus a 1-row (tot, n_docs) stats
    * table — the index metadata every real search engine persists
    * beside its postings. Serve from the STORED tables only: the
    * workload's term set is a plan-time IN filter, so the scan reads
    * just the matching buckets' row groups (per-bucket term-sorted
    * files give parquet min/max skipping — PushedFilters carries the
    * IN, pinned by spec); per-term df comes from the pruned postings
    * themselves (df = posting-list length), NOT a corpus scan. No
    * corpus table is touched at query time; query cost scales with the
    * matched posting lists, never the corpus. Results are identical to
    * `bm25TopK` by construction (same scoring tail, df equalities),
    * so the inline form's oracle replays this one.
    */
  def bm25Indexed(spark: SparkSession, sfDir: String,
                  queries: Seq[(Long, String)] = Nil,
                  k: Int = 5): DataFrame = {
    val qs = if (queries.nonEmpty) queries else defaultBm25Workload(spark, sfDir)
    val (name, statsName) = bm25Store(spark, sfDir)
    // —— serving: stored postings + stored metadata only ——
    val qterms = bm25QueryTerms(spark, qs)
    val workloadTerms = qs.flatMap(_._2.toLowerCase.split(" "))
      .filter(_.nonEmpty).distinct
    val pruned = spark.table(name).filter(col("term").isin(workloadTerms: _*))
    val dft = pruned.groupBy("term").agg(count(lit(1)).as("df"))
    val qdim = broadcast(qterms.join(dft, "term"))
    // .limit(1) re-bounds the stored 1-row stats table in-plan: read
    // back from parquet it is a bare scan, and the broadcast side of
    // the scoring cross join must stay provably bounded to the sweep
    bm25Serve(pruned, qdim, spark.table(statsName).limit(1), k,
      rebalance = serveRebalance(spark, name))
  }

  /** text_hybrid_rrf: hybrid retrieval — lexical BM25 and semantic
    * cosine rankings fused with Reciprocal Rank Fusion (Cormack,
    * Clarke & Buettcher 2009, "Reciprocal Rank Fusion outperforms
    * Condorcet and individual Rank Learning Methods"). The
    * related-document workload every RAG corpus build and
    * retrieval-based decontamination pass runs: each anchor document
    * (every `stride`-th doc, the same bounded strided workload as
    * sim_bruteforce) retrieves its kList lexical neighbors
    * (query-by-document BM25: the anchor's own terms are the query,
    * self-match excluded) and its kList semantic neighbors (exact
    * cosine from the anchor's embedding — ids are parallel across
    * documents/embeddings), and the two rankings fuse as
    *   rrf_micro = sum over lists containing d of 1e6 div (60 + rank)
    * — integer division, so the fused score is exactly replayable (the
    * float 1/(60+r) differs from this by a monotone rescale only; 60
    * is the paper's k).
    *
    * Plan shape at 100 TB: the anchor set is an ABSOLUTE size — the
    * `nAnchors` smallest strided doc ids (TakeOrdered, the same
    * discipline as sim_allpairs' fixed 500-id sample) — because a
    * purely strided workload is corpus-PROPORTIONAL and turns
    * fixed-workload serving into workload x corpus quadratic growth
    * (measured: the 10x dup-heavy probe put replica ids on the stride
    * and ran 51x before this bound). The lexical half is then the
    * text_bm25 serving plan (postings pruned by the broadcast
    * anchor-term dimension, bounded TopKTagAgg — one hot anchor never
    * lands its candidates on one task); the semantic half is the
    * sim_bruteforce scan over the SAME anchor ids (broadcast anchor
    * vectors, one corpus pass — swap in the IVF probe for an
    * approximate serving path, same output contract; anchors without a
    * stored embedding fall back to lexical-only). The fuse itself
    * touches ONLY the two top-k lists: a full-outer hash join on
    * (query_id, doc_id) over <= nAnchors * kList rows per side, then a
    * per-anchor window over <= 2*kList rows — bounded by the workload,
    * never the corpus.
    *
    * Output: (query_id, doc_id, rrf_micro, rk), rk = 1..k by fused
    * score desc / doc_id asc, ordered.
    */
  def hybridRrf(spark: SparkSession, sfDir: String, k: Int = 10,
                kList: Int = 20, stride: Int = 50, rrfK: Int = 60,
                nAnchors: Int = 100): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val anchorIds = hybridAnchorIds(docs, stride, nAnchors)
    rrfFuse(
      hybridLexRanks(spark, sfDir, docs, anchorIds, kList,
        storeTag = s"anchors:$stride:$nAnchors"),
      graft.ops.Similarity.bruteForceTopKFor(spark, sfDir, anchorIds, kList)
        .select(col("q_id").as("query_id"), col("n_id").as("doc_id"),
          col("rk").as("rk_sem")),
      k, rrfK)
  }

  /** text_hybrid_rrf_ann: [[hybridRrf]] with the semantic side served
    * APPROXIMATELY — the IVF probe (same quantizer and parameters as
    * sim_ivf) replaces the brute-force corpus scan, which is the
    * production hybrid at 100 TB: the lexical half already prunes to
    * query-term postings, and the IVF half probes nprobe cells instead
    * of scanning every vector, so neither retriever touches the whole
    * corpus at query time. Same output contract; the fused ranking
    * differs from the exact form only where IVF's probed cells miss a
    * true neighbor (the recall trade sim_recall measures).
    */
  def hybridRrfAnn(spark: SparkSession, sfDir: String, k: Int = 10,
                   kList: Int = 20, stride: Int = 50, rrfK: Int = 60,
                   nAnchors: Int = 100, centroidMod: Int = 50,
                   nprobe: Int = 2): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val anchorIds = hybridAnchorIds(docs, stride, nAnchors)
    rrfFuse(
      hybridLexRanks(spark, sfDir, docs, anchorIds, kList,
        storeTag = s"anchors:$stride:$nAnchors"),
      graft.ops.Similarity.ivfTopKFor(spark, sfDir, anchorIds,
          centroidMod, nprobe, kList)
        .select(col("q_id").as("query_id"), col("n_id").as("doc_id"),
          col("rk").as("rk_sem")),
      k, rrfK)
  }

  /** The ABSOLUTE-size anchor workload shared by both hybrid forms. */
  private def hybridAnchorIds(docs: DataFrame, stride: Int,
                              nAnchors: Int): DataFrame =
    docs.filter(col("doc_id") % stride === 0)
      .select(col("doc_id").as("q_id")).orderBy("q_id").limit(nAnchors)

  /** The lexical half: query-by-document BM25 ranks for the anchor set —
    * the anchors' OWN distinct terms are the query workload, bounded by
    * nAnchors and broadcast like any bm25 qdim. Output: (query_id,
    * doc_id, rk_lex).
    */
  /** Both hybrid forms share the SAME lexical half (identical anchor
    * workload and kList), so the ranked lexical list is a two-consumer
    * artifact: stored for the run per workload params — the exact
    * form builds it, the ANN form serves it.
    */
  private val hybridLexStores = graft.ArtifactStore.frames("text.hybridLex")

  /** Per-anchor query-term budget: each anchor's `hybridMaxQueryTerms`
    * MOST SELECTIVE terms (lowest df, ties by term) form its query —
    * the champion-list / WAND-style workload bound every production
    * retriever applies to query-by-document. Without it the candidate
    * relation is anchors x (df mass of their full vocabulary): on a
    * shared-vocabulary corpus every anchor matches nearly every
    * document through its common terms, so candidates grow with
    * workload x CORPUS — measured at 100x as 241 s single-JVM (~350x
    * the 1x cost) and an executor OOM under local-cluster (the partial
    * aggregate's spill-merge allocates a reader per spill file; round-15
    * combined-axes run). Common terms carry near-uniform score mass to
    * every candidate — selective terms are what rank — so the bound is
    * the standard trade; the oracle applies the identical pruning
    * (same df ordering, same tie-break), keeping the gate exact.
    */
  // private[graft]: the oracle SQL (SparkEntry.hybridLexCtes) interpolates
  // this same constant — one definition for both sides of the gate, so a
  // retune can never surface as an opaque oracle-hash mismatch (ADVICE r15)
  private[graft] val hybridMaxQueryTerms = 32

  private def hybridLexRanks(spark: SparkSession, sfDir: String,
                             docs: DataFrame, anchorIds: DataFrame,
                             kList: Int, storeTag: String): DataFrame =
    hybridLexStores.getOrBuild(spark, sfDir, Seq("documents"),
        storeTag, kList, hybridMaxQueryTerms) {
      graft.Materialize(
        hybridLexRanksUncached(spark, sfDir, docs, anchorIds, kList))
    }

  private def hybridLexRanksUncached(spark: SparkSession, sfDir: String,
                                     docs: DataFrame, anchorIds: DataFrame,
                                     kList: Int): DataFrame = {
    // the STORED index serves the lexical half (bm25Store: postings +
    // stats built once per run) — only the <= nAnchors anchor texts are
    // re-read to derive the query-term workload; df per term is the
    // stored posting-list length, no corpus tokenize runs here
    val (name, statsName) = bm25Store(spark, sfDir)
    val postings = spark.table(name)
    val dft = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val anchors = docs.join(anchorIds, col("doc_id") === col("q_id"))
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(filter(split(lower(col("text")), " "),
          t => length(t) > 0))).as("term"))
    // champion-list bound (see hybridMaxQueryTerms): the window runs
    // over <= nAnchors x distinct-terms-per-doc rows — workload-sized,
    // never corpus-sized
    val wSel = Window.partitionBy("query_id")
      .orderBy(col("df").asc, col("term").asc)
    val qdim = broadcast(anchors.join(dft, "term")
      .withColumn("trk", row_number().over(wSel))
      .filter(col("trk") <= hybridMaxQueryTerms)
      .drop("trk"))
    bm25Serve(postings, qdim, spark.table(statsName).limit(1), kList,
        excludeSelf = true, rebalance = serveRebalance(spark, name))
      .select(col("query_id"), col("doc_id"), col("rk").as("rk_lex"))
  }

  /** The RRF fuse shared by both hybrid forms: touches ONLY the two
    * top-k lists (full-outer hash join + per-anchor window over
    * <= 2*kList rows — workload-bounded, never the corpus).
    */
  private def rrfFuse(lex: DataFrame, sem: DataFrame,
                      k: Int, rrfK: Int): DataFrame = {
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000 div ($rrfK + rk_lex)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($rrfK + rk_sem)"), lit(0L)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    fused.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf_micro"),
        col("rk").cast("long").as("rk"))
      .orderBy("query_id", "rk")
  }

  /** Batch-side BM25 serving artifacts for the streaming percolator:
    * the per-query-term dimension (query_id, term, idf_milli) plus the
    * (tot, n_docs) corpus scalars. The dimension collect is bounded by
    * the WORKLOAD size (terms appearing in stored queries — KBs for
    * thousands of queries), never the vocabulary: the same sanctioned
    * bounded-artifact discipline as the Bloom sketch pull and the DSIR
    * ratio table. Query terms absent from the corpus are dropped here,
    * which is exactly the batch scorer's inner-join semantics.
    */
  private[graft] def bm25Artifacts(spark: SparkSession, sfDir: String,
      queries: Seq[(Long, String)]): (Seq[(Long, String, Long)], Long, Long) = {
    // served from the build-once bm25Store: df per workload term is the
    // stored posting-list length (bucket-pruned IN scan), the corpus
    // scalars come from the stored 1-row stats table — no corpus
    // tokenize runs on the artifact pull
    val (name, statsName) = bm25Store(spark, sfDir)
    val qts: Seq[(Long, String)] = queries.flatMap { case (qid, qtext) =>
      qtext.toLowerCase.split(" ").filter(_.nonEmpty).distinct.map(qid -> _)
    }
    val workloadTerms = qts.map(_._2).distinct
    val dfMap = spark.table(name)
      .filter(col("term").isin(workloadTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = spark.table(statsName).collect().head
    val (tot, nDocs) = (st.getLong(0), st.getLong(1))
    val qdim = qts.collect { case (qid, t) if dfMap.contains(t) =>
      val df = dfMap(t)
      (qid, t, ((2 * nDocs - 2 * df + 1) * 1000) / (2 * df + 1))
    }
    (qdim, tot, nDocs)
  }

  /** The percolator scoring frame shared with the streaming twin:
    * score each arriving document against every stored query, entirely
    * stateless — the stored-query workload is UNROLLED into per-query
    * integral score expressions over named tf columns (one
    * `size(filter(toks, = term))` per workload term, then one
    * `expr(... div ...)` per query), so every row is one narrow
    * whole-stage-codegen projection: no shuffle, no state, no lambda
    * float math. Emits (doc_id, query_id, score_micro) for documents
    * matching >= 1 of the query's terms — identical relation to the
    * batch scorer's inner join, proven by the shared oracle CTE.
    */
  private[graft] def bm25PercolateFrame(docs: DataFrame,
      qdim: Seq[(Long, String, Long)], tot: Long, nDocs: Long): DataFrame = {
    // a workload with zero corpus-matching terms percolates nothing —
    // return the empty relation rather than unrolling an empty struct
    // array (explode of a zero-field array types as VOID and fails
    // analysis; surfaced by a vocabulary-disjoint corpus, round 16)
    if (qdim.isEmpty)
      return docs.select(col("doc_id"), lit(0L).as("query_id"),
        lit(0L).as("score_micro")).filter(lit(false))
    val workloadTerms = qdim.map(_._2).distinct
    val tfCol = (t: String) => s"tf_${workloadTerms.indexOf(t)}"
    val toks = filter(split(lower(col("text")), " "), t => length(t) > 0)
    val withTf = workloadTerms.foldLeft(
        docs.select(col("doc_id"), toks.as("toks"))
          .filter(size(col("toks")) > 0)
          .withColumn("dl", size(col("toks")).cast("long"))) {
      case (d, t) => d.withColumn(tfCol(t),
        size(filter(col("toks"), x => x === lit(t))).cast("long"))
    }
    val perQuery = qdim.groupBy(_._1).toSeq.sortBy(_._1).map { case (qid, qts) =>
      val score = qts.map { case (_, t, idf) =>
        s"($idf * ((22000 * ${tfCol(t)} * ${tot}L) div " +
          s"(10 * ${tot}L * ${tfCol(t)} + ${3 * tot}L + ${9 * nDocs}L * dl)))"
      }.mkString(" + ")
      val matched = qts.map { case (_, t, _) => tfCol(t) }.mkString(" + ")
      struct(lit(qid).as("query_id"), expr(score).as("score_micro"),
        expr(s"($matched) > 0").as("matched"))
    }
    withTf.select(col("doc_id"), explode(array(perQuery: _*)).as("q"))
      .filter(col("q.matched"))
      .select(col("doc_id"), col("q.query_id").as("query_id"),
        col("q.score_micro").as("score_micro"))
  }

  /** Top-k adjacent character pairs by corpus frequency — the scoring
    * step of one BPE training iteration (the pair a byte-pair-encoding
    * tokenizer would merge first). The classic two-stage compression
    * that makes BPE training feasible at corpus scale:
    *   1. collapse the corpus to the DISTINCT-WORD frequency table (one
    *      shuffle; at 100 TB this is the 10^6-row table BPE trainers
    *      actually iterate on, not the corpus);
    *   2. explode each distinct word's adjacent pairs weighted by word
    *      frequency and sum per pair (second shuffle, keyed on the
    *      pair — cardinality bounded by alphabet², inherently small).
    * Top-k runs as orderBy+limit (TakeOrdered — no corpus-wide
    * single-partition window); ranks are attached to the k survivors
    * only. Ties break by pair ascending, so the result is total. A full
    * BPE train repeats this scoring after applying each merge to the
    * word table — the per-iteration plan is exactly this one.
    */
  def bpePairCounts(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = table(spark, sfDir, "documents")
      .select(explode(filter(split(lower(col("text")), " "), t => length(t) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val top = words.filter(length(col("word")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
    top.withColumn("rk",
        row_number().over(Window.orderBy(col("cnt").desc, col("pair").asc))
          .cast("long"))
      .orderBy("rk")
  }

  /** vocab_bpe_train: the FULL iterative BPE training loop — m greedy
    * merge rounds over the distinct-word frequency table (the step
    * `bpePairCounts` scores once). Each round: count adjacent SYMBOL
    * pairs weighted by word frequency, take the arg-max pair (ties by
    * (left, right) ascending — total order), apply the merge greedily
    * left-to-right non-overlapping to every word's symbol sequence, and
    * record (round, pl, pr, cnt) — the merge table a BPE tokenizer
    * ships.
    *
    * Scale shape (the reason BPE training is feasible at 100 TB): the
    * loop never touches the corpus again after the first aggregation —
    * rounds iterate on the DISTINCT-WORD table (~10^6 rows at any
    * corpus size), exactly what production BPE trainers do. Per round:
    * one map-side-combinable pair-count aggregate (cardinality bounded
    * by |vocab|^2, in practice tiny), one TakeOrdered(1) for the
    * winner, and one narrow per-row projection applying the merge as an
    * `aggregate` fold — no join back, because the winning pair is
    * pulled to the driver as a ONE-ROW scalar and folded in as
    * literals, the same bounded-driver-action discipline as
    * connectedComponents' convergence sum. That also keeps the evolving
    * table's lineage LINEAR (one reference per round; see the CC
    * docstring for why a per-round double reference is fatal), with
    * persist/unpersist of the tracked handle bounding resident state at
    * ~2 word tables.
    *
    * The fold is exact greedy BPE: scanning left to right, merge when
    * the accumulator's last atom is `pl` and the current atom is `pr`.
    * Within a round the freshly merged atom `pl||pr` can never re-merge
    * as either side of the same pair (both sides are non-empty, so
    * pl||pr = pl and pl||pr = pr are impossible), which makes the fold
    * equal to the simultaneous non-overlapping application — runs of a
    * self-pair (pl = pr) merge at alternating positions, as BPE
    * specifies. `get()` (not element_at) keeps the empty-accumulator
    * probe null-safe under ANSI.
    *
    * Output: (round, pl, pr, cnt), one row per merge, ordered by round.
    */
  def bpeTrain(spark: SparkSession, sfDir: String, m: Int = 3): DataFrame = {
    import spark.implicits._
    bpeTrainMerges(spark, sfDir, m)
      .toDF("round", "pl", "pr", "cnt").orderBy("round")
  }

  /** The training loop behind [[bpeTrain]], returning the merge table
    * as driver-side values so [[bpeEncode]] can fold the learned merges
    * into a narrow per-document projection as plan literals. m bounded
    * one-row driver actions (see the bpeTrain docstring).
    */
  /** Train-once-per-run BPE merge store (the bm25Store pattern applied
    * to the tokenizer): training is deterministic given the corpus, and
    * every consumer of a trained tokenizer — encode, fertility,
    * coverage, growth, the streaming twin — applies the SAME merge
    * table, exactly as a production tokenizer is trained once and its
    * merges shipped to every pipeline stage. The first caller per
    * (corpus, m) pays the m training rounds; later callers fold the
    * cached merges straight into their encode projection as plan
    * literals.
    */
  // driver-memory value (a <= m-row merge table, no executor storage):
  // eviction drops the stale entry itself; nothing else to release
  private val bpeMergeStores =
    new graft.ArtifactStore[Seq[(Long, String, String, Long)]](
      "text.bpeMerges")(_ => ())
  private[graft] def bpeTrainMerges(spark: SparkSession, sfDir: String,
                                    m: Int): Seq[(Long, String, String, Long)] =
    bpeMergeStores.getOrBuild(spark, sfDir, Seq("documents"), m) {
      bpeTrainMergesUncached(spark, sfDir, m)
    }

  private def bpeTrainMergesUncached(spark: SparkSession, sfDir: String,
                                     m: Int): Seq[(Long, String, String, Long)] = {
    import org.apache.spark.sql.DataFrame
    val chars = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    var words: DataFrame = table(spark, sfDir, "documents")
      .select(explode(filter(split(lower(col("text")), " "),
        t => length(t) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), chars.as("syms"))
      .persist()
    var pinned = words
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var r = 1
    while (r <= m) {
      val pairs = transform(sequence(lit(0), size(col("syms")) - 2),
        i => struct(get(col("syms"), i).as("pl"), get(col("syms"), i + 1).as("pr")))
      val win = words.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(pairs).as("p"))
        .groupBy(col("p.pl").as("pl"), col("p.pr").as("pr"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pl").asc, col("pr").asc)
        .limit(1).head() // one bounded driver row per round (see above)
      val (pl, pr, cnt) = (win.getString(0), win.getString(1), win.getLong(2))
      merges += ((r.toLong, pl, pr, cnt))
      val merged = aggregate(col("syms"), array().cast("array<string>"),
        (acc, x) => when(get(acc, size(acc) - 1) === lit(pl) && x === lit(pr),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(pl + pr))))
          .otherwise(concat(acc, array(x))))
      // lineage TRUNCATION every 8th round (the connectedComponents
      // discipline): each round nests the previous round's cached plan,
      // and AQE's explain rendering walks both the initial and final
      // physical plan of every nested adaptive subtree — exponential in
      // nesting depth. m=3 defaults never notice; a user training a
      // real vocabulary (m in the hundreds) must not hit a 2^m wall.
      val truncate = r % 8 == 0
      val next =
        if (truncate) {
          val t = words.select(col("word"), col("freq"), merged.as("syms"))
            .materialized
          pinned.unpersist()
          pinned = t // not persisted: the final unpersist is a no-op
          t
        } else {
          val t = words.select(col("word"), col("freq"), merged.as("syms")).persist()
          t.count() // materialize before releasing the previous round
          pinned.unpersist()
          pinned = t
          t
        }
      words = next
      r += 1
    }
    pinned.unpersist()
    merges.toSeq
  }

  /** vocab_bpe_encode: APPLY the trained tokenizer — run [[bpeTrain]]'s
    * m merge rounds, then encode every document with the learned merge
    * table and report its token count under the learned vocab:
    *
    *   (doc_id, n_words, n_syms0, n_bpe, compression_milli)
    *
    * where n_syms0 is the pre-merge symbol count (characters across
    * tokens), n_bpe the post-merge BPE token count, and
    * compression_milli = floor(1000 * n_bpe / n_syms0) — the
    * tokens-per-char compression a tokenizer is graded on per doc.
    *
    * Scale shape — the reason this op matters at 100 TB: once training
    * has pulled the m winning pairs to the driver (bounded one-row
    * actions on the DISTINCT-WORD table), encoding is a ZERO-SHUFFLE
    * narrow projection over the corpus. The merges enter the plan as
    * literals (the broadcast-a-tokenizer pattern, minus even the
    * broadcast); each document applies the m greedy merges as chained
    * native string replaces (replace = the same leftmost-first
    * non-overlapping rule as bpeTrain's fold — see bpeEncodeFrame)
    * with no explode, no join against a vocab table, and no shuffle at
    * all — the plan is scan -> project -> sort-for-output, fully
    * codegen'd. Per-row cost is O(text length x m); a 1000-executor
    * cluster encodes each split independently.
    */
  def bpeEncode(spark: SparkSession, sfDir: String, m: Int = 3): DataFrame =
    bpeEncodeFrame(table(spark, sfDir, "documents"),
      bpeTrainMerges(spark, sfDir, m)).orderBy("doc_id")

  /** vocab_fertility: per-language tokenizer fertility under the
    * trained BPE — the standard tokenizer-evaluation table (tokens per
    * word and per character) that decides whether a vocab under-serves
    * a language: high fertility = more tokens per word = that
    * language's text costs more context window and more compute per
    * character of content (the reason multilingual vocabs are
    * rebalanced before training).
    *   fertility_milli   = 1000 * n_bpe div n_words  (tokens per word)
    *   compression_milli = 1000 * n_bpe div n_syms0  (tokens per char)
    * Plan: the codegen'd encode projection ([[bpeEncodeFrame]]) joined
    * doc-keyed to the language label, then one partial-aggregated
    * rollup to |langs| rows — narrow scan + one tiny shuffle.
    */
  def bpeFertility(spark: SparkSession, sfDir: String, m: Int = 3): DataFrame = {
    val enc = bpeEncodeFrame(table(spark, sfDir, "documents"),
      bpeTrainMerges(spark, sfDir, m))
    enc.join(table(spark, sfDir, "documents").select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy("lang")
      .agg(sum(col("n_words")).as("n_words"),
        sum(col("n_syms0")).as("n_syms0"),
        sum(col("n_bpe")).as("n_bpe"))
      .withColumn("fertility_milli", expr("(1000 * n_bpe) div n_words"))
      .withColumn("compression_milli", expr("(1000 * n_bpe) div n_syms0"))
      .orderBy("lang")
  }

  /** The encode projection behind [[bpeEncode]], over any (doc_id,
    * text) frame — batch or stream (stateless-append: no shuffle, no
    * state; the trained merges are plan literals).
    */
  private[graft] def bpeEncodeFrame(docs: DataFrame,
                                    merges: Seq[(Long, String, String, Long)]): DataFrame = {
    // BPE's greedy left-to-right non-overlapping merge pass IS string
    // replace semantics (leftmost-first, non-overlapping), so the whole
    // encode compiles to m chained NATIVE `replace` calls instead of a
    // per-word interpreted array fold: each round's merged symbol
    // becomes one private-use-area placeholder char (U+E000 + r), and a
    // round's search target is its pair spelled in placeholder space
    // (a multi-char symbol in a later pair is always a prior round's
    // merge, so the rewrite is total). Token boundaries are safe for
    // free — targets contain no spaces, so a match can never span one,
    // and a single replace over the space-joined text equals the
    // per-token fold. After the chain every symbol is exactly one
    // char, so n_bpe = length(encoded) - (n_words - 1) separators.
    // This replaced an O(word_len^2)-copies-per-merge interpreted
    // aggregate (higher-order functions are CodegenFallback): measured
    // 6.5 CPU-seconds -> ~0 at sf0.1, and it is what took the
    // streaming twin from 7.5 s to baseline. Precondition (documented,
    // harness-true): corpus text contains no U+E000..U+E0FF private-use
    // chars; a byte-level production tokenizer would use id arrays.
    val sym2ph = scala.collection.mutable.Map[String, String]()
    val chain = merges.zipWithIndex.map { case ((_, pl, pr, _), i) =>
      val target = sym2ph.getOrElse(pl, pl) + sym2ph.getOrElse(pr, pr)
      val ph = (0xE000 + i).toChar.toString
      sym2ph(pl + pr) = ph
      (target, ph)
    }
    val toks = filter(split(lower(col("text")), " "), t => length(t) > 0)
    val joined = array_join(col("toks"), " ")
    val encoded = chain.foldLeft(joined) { case (c, (t, p)) =>
      replace(c, lit(t), lit(p))
    }
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        (length(joined) - size(col("toks")) + 1).cast("long").as("n_syms0"),
        (length(encoded) - size(col("toks")) + 1).cast("long").as("n_bpe"))
      .withColumn("compression_milli", expr("(1000 * n_bpe) div n_syms0"))
  }

  /** Corpus-LM fluency score — the n-gram language-model quality signal
    * (the cheap stand-in for perplexity filtering): score each doc by
    * the mean corpus-conditional probability of its bigrams,
    *
    *   lm_milli = floor( sum over doc bigram occurrences of
    *                     floor(C(w1 w2) * 1000 / C(w1 ·)) / n_bigrams )
    *
    * where C(w1 w2) counts the bigram corpus-wide and C(w1 ·) counts
    * bigrams STARTING with w1 (so each term is an exact conditional in
    * thousandths — all-integer, no log/float drift; the textbook
    * perplexity would exponentiate a mean log, which induces the same
    * ordering per fixed length). Template/boilerplate text scores HIGH
    * (its transitions dominate the corpus), word salad scores LOW —
    * both are drop signals a plain length/stopword gate misses.
    *
    * Plan shape — deliberately the one text op with a BIG-to-big join:
    * doc bigram occurrences join the corpus bigram-stats table on the
    * bigram key (both sides shuffle; hot bigrams are exactly the keys
    * AQE skew-split), then one aggregation back on doc_id. The stats
    * table is corpus-derived — at 100 TB you materialize it once and
    * reuse it across scoring runs. Docs with no bigram are excluded
    * (no denominator).
    */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val bigrams = table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.ShingleColumns.wordShingles(col("text"), 2)).as("bigram"))
    // corpus stats: C(bigram) and C(first-word ·) — derived from the
    // same bigram relation, so C(w1 ·) = sum over bigrams starting w1
    val bstats = bigrams.groupBy("bigram").agg(count(lit(1)).as("c_bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val w1stats = bstats.groupBy("w1").agg(sum(col("c_bigram")).as("c_w1"))
    val scored = bstats.join(w1stats, Seq("w1"))
      .withColumn("cond_milli", expr("(c_bigram * 1000) div c_w1"))
      .select("bigram", "cond_milli")
    bigrams.join(scored, Seq("bigram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(cond_milli) div count(1)").as("lm_milli"))
      .orderBy("doc_id")
  }

  /** text_lm_kn: interpolated Kneser-Ney bigram scoring (Kneser & Ney
    * 1995; Chen & Goodman 1998) — the standard n-gram smoothing a real
    * perplexity filter uses, where [[lmScore]] is raw ML and
    * [[lmHoldout]] is add-one. Absolute discount d=1 keeps every term
    * an exact integer (no float log/backoff drift between engines):
    *
    *   P_KN(w2|w1)·1000 ≈ cond_milli =
    *       ((C(w1w2)-1)·1000) div C(w1·)                  [discounted ML]
    *     + (λ_milli(w1) · p_cont_milli(w2)) div 1000       [interpolation]
    *   λ_milli(w1)     = (1000·N1+(w1·)) div C(w1·)        [mass freed by d]
    *   p_cont_milli(w2) = (1000·N1+(·w2)) div T            [continuation]
    *
    * with N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct
    * left-contexts of w2, T = distinct bigram types. The continuation
    * term is THE Kneser-Ney idea: a word that appears in many contexts
    * ("york" appears often but almost only after "new") scores by how
    * many contexts it follows, not how often — exactly the signal that
    * separates templated boilerplate (high ML, low continuation
    * diversity) from fluent text. Per-doc score = mean cond_milli over
    * the doc's bigram occurrences, as in [[lmScore]], so the two rungs
    * are directly comparable per document.
    *
    * Plan shape: the same ONE big-to-big join as lmScore (doc bigram
    * occurrences vs the corpus bigram-stats table, AQE-skew-split on hot
    * bigrams) — all smoothing stats (N1+ forward/backward, T) are
    * aggregations OVER the |types|-sized stats table, never the
    * occurrence stream, and T rides in as a broadcast scalar. At 100 TB
    * the stats table is the reusable corpus artifact; scoring runs are
    * one join + one per-doc aggregation.
    */
  def kneserNeyScore(spark: SparkSession, sfDir: String): DataFrame = {
    val bigrams = table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.ShingleColumns.wordShingles(col("text"), 2)).as("bigram"))
    val bs = bigrams.groupBy("bigram").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    // smoothing stats over the TYPES table (|types| rows, not occurrences)
    val w1s = bs.groupBy("w1").agg(
      sum(col("c12")).as("c_w1"), count(lit(1)).as("n_fw"))
    val w2s = bs.groupBy("w2").agg(count(lit(1)).as("n_bw"))
    val types = bs.agg(count(lit(1)).as("t_types"))
    val scored = bs
      .join(w1s, Seq("w1")).join(w2s, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("cond_milli",
        expr("((c12 - 1) * 1000) div c_w1 + " +
          "(((1000 * n_fw) div c_w1) * ((1000 * n_bw) div t_types)) div 1000"))
      .select("bigram", "cond_milli")
    bigrams.join(scored, Seq("bigram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(cond_milli) div count(1)").as("kn_milli"))
      .orderBy("doc_id")
  }

  /** Content fingerprints: md5 of whitespace-normalized lowercased text
    * (exact-dup key) plus a 60-bit integer form for compact joins. The
    * rolling-hash winnowing variant lives in Dedup.winnowFingerprints.
    */
  /** Gopher-style rule-based quality filter (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", table A1): a document survives only
    * if every structural rule passes. The rules that apply to a
    * newline-free corpus, each surfaced as its own flag so downstream
    * can audit WHICH rule rejected a doc (the per-rule rejection mix is
    * the tuning signal on a real crawl):
    *
    *   r_words   — token count within [minWords, maxWords]
    *   r_meanlen — mean token length within [3, 10] chars
    *   r_alpha   — >= 80% of tokens contain an alphabetic character
    *   r_symbol  — < 10% of tokens' worth of symbol marks (#, ellipsis)
    *   r_stop    — >= 2 DISTINCT stop words present (array_intersect
    *               is set-semantics in both engines)
    *
    * All ratios are exact integer millis — no float divergence between
    * engines. Single narrow projection, no shuffle except the final
    * presentation sort: per-doc rule evaluation is embarrassingly
    * parallel at any corpus size.
    */
  def gopherRules(spark: SparkSession, sfDir: String,
                  minWords: Int = 10, maxWords: Int = 100000): DataFrame =
    table(spark, sfDir, "documents")
      .select(col("doc_id") +: gopherColumns(minWords, maxWords): _*)
      .orderBy("doc_id")

  /** The rule/metric columns over a `text` column — shared by
    * [[gopherRules]] (per-doc) and [[qualityReport]] (per-source).
    */
  private def gopherColumns(minWords: Int, maxWords: Int): Seq[Column] = {
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val nTok = size(toks).cast("long")
    // exact character mass of the tokens (robust to any whitespace runs)
    val charMass = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
    val nHash = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast("long")
    val nEllipsis = ((length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
    val nStop = size(array_intersect(toks,
      array(stopwords.map(lit(_)): _*))).cast("long")
    // Spark's `/` on longs is DOUBLE division; values are < 2^53 so the
    // double is exact and the cast truncates — same result as the
    // oracle's integer floor division on these non-negative operands
    val meanLenMilli = when(nTok > 0, (charMass * 1000L / nTok).cast("long"))
      .otherwise(lit(null).cast("long"))
    val symbolMilli = when(nTok > 0, ((nHash + nEllipsis) * 1000L / nTok).cast("long"))
      .otherwise(lit(null).cast("long"))
    val alphaMilli = when(nTok > 0, (nAlpha * 1000L / nTok).cast("long"))
      .otherwise(lit(null).cast("long"))
    val rWords = nTok >= minWords && nTok <= maxWords
    val rMeanLen = meanLenMilli.isNotNull &&
      meanLenMilli >= 3000L && meanLenMilli <= 10000L
    val rAlpha = alphaMilli.isNotNull && alphaMilli >= 800L
    val rSymbol = symbolMilli.isNotNull && symbolMilli < 100L
    val rStop = nStop >= 2L
    Seq(nTok.as("n_words"),
      meanLenMilli.as("mean_word_len_milli"),
      alphaMilli.as("alpha_word_milli"),
      symbolMilli.as("symbol_milli"),
      nStop.as("n_stop_distinct"),
      rWords.as("r_words"), rMeanLen.as("r_meanlen"), rAlpha.as("r_alpha"),
      rSymbol.as("r_symbol"), rStop.as("r_stop"),
      (rWords && rMeanLen && rAlpha && rSymbol && rStop).as("keep"))
  }

  /** Vocabulary coverage: build the top-`vocabSize` corpus vocabulary
    * (by frequency, ties by token — deterministic at the cut), then
    * score every document's out-of-vocabulary rate against it. The
    * tokenizer-coverage signal a training pipeline tracks per source /
    * per snapshot: rising OOV means the corpus drifted from the
    * tokenizer.
    *
    * Scale shape: pass 1 is the urlcount aggregation (shuffle on token,
    * map-side combine) cut to K rows; pass 2 BROADCASTS that K-row
    * vocabulary and left-joins the token stream against it map-side —
    * the full token stream shuffles only once, on doc_id, for the
    * per-doc rollup. A vocabulary too big to broadcast swaps the
    * broadcast for the Bloom pre-filter shape (see decontaminateBloom);
    * the plan is otherwise unchanged.
    */
  /** Vocabulary application at scale — tokenize every document against
    * the corpus top-K vocabulary (ids 1..K by frequency rank, 0 = OOV)
    * and prove the ORDER-PRESERVING token-id sequence by md5. This is
    * the step after tokenizer training (vocab_bpe_pairs scores merges,
    * oovRate measures coverage; this APPLIES the vocab): map tokens to
    * ids with a broadcast vocab join, then re-assemble each document's
    * id sequence in token order — the explode -> join -> ordered-
    * reassembly shape every sequence-feature pipeline needs. The
    * reassembly aggregate's state is bounded by DOCUMENT length
    * (collect_list within doc_id), never corpus size, and the sequence
    * is proven by hash, not shipped. Shares oovRate's vocabulary
    * definition so coverage numbers and ids agree.
    */
  def tokenizeDocs(spark: SparkSession, sfDir: String, vocabSize: Int = 10): DataFrame = {
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val tok = table(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
      .withColumn("id", row_number()
        .over(Window.orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
      .select("tok", "id")
    tok.join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("tid", coalesce(col("id"), lit(0L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_oov"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(struct(col("pos"), col("tid")))),
            x => x.getField("tid").cast("string")))).as("seq_md5"))
      .orderBy("doc_id")
  }

  def oovRate(spark: SparkSession, sfDir: String, vocabSize: Int = 10): DataFrame = {
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val tok = table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(toks).as("tok"))
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_milli", (col("n_oov") * 1000L / col("n_tokens")).cast("long"))
      .orderBy("doc_id")
  }

  /** Per-source quality drift report: for each source, how often each
    * Gopher rule rejects, and the overall keep rate — the audit table a
    * curation team watches across snapshots (a source whose r_alpha
    * rejection rate doubles week-over-week changed its scraper, not its
    * content). Exact integer millis; one narrow pass + one tiny
    * aggregation keyed by source (hundreds of groups at any corpus
    * size, so the report never becomes the bottleneck).
    */
  def qualityReport(spark: SparkSession, sfDir: String): DataFrame = {
    def rejMilli(flag: String): Column =
      (sum(when(col(flag), 0L).otherwise(1L)) * 1000L / count(lit(1))).cast("long")
    table(spark, sfDir, "documents")
      .select(col("source") +: gopherColumns(10, 100000): _*)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        rejMilli("r_words").as("rej_words_milli"),
        rejMilli("r_meanlen").as("rej_meanlen_milli"),
        rejMilli("r_alpha").as("rej_alpha_milli"),
        rejMilli("r_symbol").as("rej_symbol_milli"),
        rejMilli("r_stop").as("rej_stop_milli"),
        (sum(when(col("keep"), 1L).otherwise(0L)) * 1000L / count(lit(1)))
          .cast("long").as("keep_milli"))
      .orderBy("source")
  }

  /** Cross-tab via PIVOT: doc counts per source x language. The pivoted
    * column set is DECLARED (the language whitelist), which is the only
    * scalable form — an undeclared pivot runs a distinct scan first and
    * caps at spark.sql.pivotMaxValues; a declared one is a single
    * aggregation pass with one output column per pivoted value. Missing
    * cells surface as 0 (count semantics), not NULL.
    */
  /** Inverse of langSourcePivot: UNPIVOT (stack) the wide cross-tab
    * back to long (source, lang, n) rows — the wide->long reshape of
    * the relational family. Built ON the pivot's output so the pair is
    * a proven round-trip: stack re-derives exactly the direct
    * group-by-count relation (the oracle), with the pivot's synthetic
    * zero cells dropped (a zero count never existed as input rows).
    * stack() is a generator projection — no extra shuffle beyond the
    * pivot's own aggregation.
    */
  def langSourceUnpivot(spark: SparkSession, sfDir: String,
                        langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    val wide = langSourcePivot(spark, sfDir, langs)
    val stackExpr = s"stack(${langs.length}, " +
      langs.map(l => s"'$l', n_$l").mkString(", ") + ") AS (lang, n)"
    wide.select(col("source"), expr(stackExpr))
      .filter(col("n") > 0)
      .orderBy("source", "lang")
  }

  def langSourcePivot(spark: SparkSession, sfDir: String,
                      langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")): DataFrame = {
    val pivoted = table(spark, sfDir, "documents")
      .groupBy("source")
      .pivot("lang", langs)
      .agg(count(lit(1)))
    langs.foldLeft(pivoted) { (df, l) =>
        df.withColumn(s"n_$l", coalesce(col(s"`$l`"), lit(0L))).drop(l)
      }
      .orderBy("source")
  }

  /** Quartile banding via ntile(4) over doc length per source — the
    * rank-window family member (row_number lives in dailyTopTypes /
    * tfidf; ntile's equal-count bands are the data-mixing "length
    * bucket" signal). Total order (n_chars, doc_id) makes band edges
    * deterministic, so the per-band min/max/count roll-up is
    * oracle-exact. One shuffle on source; bands never cross partitions.
    */
  def lengthNtileBands(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    table(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy("source", "quartile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .orderBy("source", "quartile")
  }

  case class CompressionRow(doc_id: Long, n_bytes: Long, n_compressed: Long,
                            ratio_milli: Long)

  /** Compression-ratio quality signal (the CCNet/Gopher entropy proxy:
    * templated/boilerplate text DEFLATEs far below natural text, and a
    * near-1000 ratio means binary junk). Runs through the same
    * init-once-per-partition seam as the multimodal decode — one
    * Deflater reused across a partition's rows and released when the
    * partition drains, never a per-row codec construction.
    *
    * Registered rows-only by design: DEFLATE output length is a
    * zlib-implementation fact no SQL oracle can replay. The spec pins
    * the properties that matter instead (repetitive text compresses
    * harder than varied text, determinism across runs, byte accounting).
    *
    * The native Deflater is released via a TASK COMPLETION LISTENER, not
    * by draining the iterator: a downstream `limit`/take abandons the
    * iterator mid-partition, and an end-of-iterator release would strand
    * the native buffer until GC (ADVICE r6). The listener fires on every
    * task exit path — drained, limited, failed — which is the cleanup
    * contract any native-resource seam on this codebase should copy.
    */
  def compressionSignal(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(6)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        rows.map { case (id, text) =>
          val in = text.getBytes("UTF-8")
          deflater.reset(); deflater.setInput(in); deflater.finish()
          var total = 0L
          while (!deflater.finished()) total += deflater.deflate(buf)
          CompressionRow(id, in.length.toLong, total,
            if (in.isEmpty) 1000L else total * 1000L / in.length)
        }
      }.toDF().orderBy("doc_id")
  }

  case class CompressionGateRow(doc_id: Long, n_bytes: Long,
                                within_deflate_bound: Boolean,
                                repeat_subadditive: Boolean)

  /** text_compression gate: the oracle-checkable form of
    * `compressionSignal`. DEFLATE output length is a
    * zlib-implementation fact no SQL oracle can replay, so instead of
    * shipping raw byte counts the query asserts the CLAIMS a correct
    * codec seam must satisfy, per doc, as booleans the oracle pins TRUE
    * (the urlcount_cms gate pattern):
    *
    *  - `within_deflate_bound`: 0 < compressed <= n_bytes + 5 bytes per
    *    16 KiB stored block + 6 bytes zlib wrapper — DEFLATE's
    *    documented incompressible-input worst case (RFC 1950/1951
    *    stored-block framing). A zero or an over-bound length means the
    *    drain loop or the reused Deflater state is broken.
    *  - `repeat_subadditive`: deflate(text || text) < 2*deflate(text)
    *    — repetition compresses (LZ77 back-references cover the second
    *    copy), the monotonicity property that makes the ratio usable as
    *    a boilerplate/quality signal at all. Holds for every doc
    *    including empty (header overhead is shared, not doubled).
    *
    * `n_bytes` (UTF-8 length) is exactly replayable (DuckDB strlen) and
    * keeps the compare anchored to real per-doc data, not just literals.
    *
    * Same init-once-per-partition Deflater seam + task-completion-
    * listener release as `compressionSignal` (which stays the
    * full-signal library surface; TextAnalysisSpec pins its values).
    */
  def compressionGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(6)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        def deflatedLen(in: Array[Byte]): Long = {
          deflater.reset(); deflater.setInput(in); deflater.finish()
          var total = 0L
          while (!deflater.finished()) total += deflater.deflate(buf)
          total
        }
        rows.map { case (id, text) =>
          val in = text.getBytes("UTF-8")
          val single = deflatedLen(in)
          val doubled = deflatedLen(in ++ in)
          val bound = in.length.toLong + (in.length / 16384 + 1) * 5 + 6
          CompressionGateRow(id, in.length.toLong,
            single > 0 && single <= bound, doubled < 2 * single)
        }
      }.toDF().orderBy("doc_id")
  }

  def fingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        md5(norm).as("fp_md5"),
        OracleHash.h60(norm).as("fp_h60"))
      .orderBy("doc_id")
  }

  /** Deny-list terms for `scrubDocs` — stands in for the curated
    * blocklist (PII patterns, taboo terms, site boilerplate) a real
    * pipeline redacts before training. Small by nature (10^2..10^5
    * terms), so it ships to every executor whole — here as a literal
    * set inside the codegen'd expression; a 10^5-term production list
    * becomes a broadcast variable consulted by the same per-token
    * transform, identical plan shape either way.
    */
  val denyTerms: Seq[String] = Seq("customer", "spark", "vector")

  /** text_scrub: deny-list redaction with audit — every blocklisted
    * token is replaced by a fixed mask and the document reports how
    * much was removed. This is the REDACTION stage of a training
    * pipeline (the filter stages drop whole documents; scrubbing
    * repairs documents worth keeping). Pure per-row map — no shuffle,
    * stays in whole-stage codegen — so it scales embarrassingly; the
    * scrubbed text itself is proven by md5 rather than shipped
    * (the chunkDocs pattern).
    *
    * Output: (doc_id, n_tokens, n_redacted, redacted_md5).
    */
  def scrubDocs(spark: SparkSession, sfDir: String,
                deny: Seq[String] = denyTerms, mask: String = "[REDACTED]"): DataFrame =
    scrubFrame(table(spark, sfDir, "documents"), deny, mask).orderBy("doc_id")

  /** Composable scrub core over any (doc_id, text) frame — batch and
    * streaming share it (stateless, so the streaming twin is the SAME
    * plan run per micro-batch). No ordering: the caller owns the sort.
    */
  def scrubFrame(docs: DataFrame,
                 deny: Seq[String] = denyTerms,
                 mask: String = "[REDACTED]"): DataFrame = {
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val isDenied: Column => Column = t => t.isin(deny: _*)
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"), isDenied)).cast("long").as("n_redacted"),
        md5(concat_ws(" ",
          transform(col("toks"),
            t => when(isDenied(t), lit(mask)).otherwise(t)))).as("redacted_md5"))
  }

  /** pipeline_cascade: the ordered filter cascade with ATTRIBUTION —
    * every rejected document reports the FIRST rule that killed it
    * (lang gate -> the five Gopher rules in order -> the linear
    * classifier), rolled up per source. This is the report a curation
    * run actually ships: not just survivor counts but WHY each slice
    * died, so a rule misfiring on one source is visible immediately.
    * Rule order matters and is part of the contract (earlier, cheaper
    * rules take the blame when several would fire — the order they'd
    * short-circuit in at 100 TB).
    *
    * One per-row projection computes every signal (the gopher columns
    * and the classifier fold are both narrow), so the cascade costs
    * ZERO shuffles beyond the |sources x verdicts| rollup.
    *
    * Output: (source, verdict, n_docs); verdict '0_keep' or the
    * ordinal-prefixed first failing rule.
    */
  def filterCascade(spark: SparkSession, sfDir: String): DataFrame =
    cascadeFrame(table(spark, sfDir, "documents"))
      .groupBy("source", "verdict")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "verdict")

  /** The cascade's per-row verdict over any documents frame — shared by
    * the batch rollup and the stateless streaming twin (the verdict is
    * a pure per-row map; only the |sources x verdicts| rollup is
    * stateful, and it is bounded by construction).
    * Output: (doc_id, source, verdict).
    */
  def cascadeFrame(docs: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val weight: Column => Column = t =>
      OracleHash.h60(concat(lit("w:"), t)) % 1001L - 500L
    val score = aggregate(toks, lit(0L), (acc, t) => acc + weight(t))
    docs
      .select(Seq(col("doc_id"), col("lang"), col("source"),
        score.as("score")) ++ gopherColumns(10, 100000): _*)
      .select(col("doc_id"), col("source"),
        when(col("lang") =!= "en", "1_lang")
          .when(!col("r_words"), "2_words")
          .when(!col("r_meanlen"), "3_meanlen")
          .when(!col("r_alpha"), "4_alpha")
          .when(!col("r_symbol"), "5_symbol")
          .when(!col("r_stop"), "6_stop")
          .when(col("score") < 0L, "7_classifier")
          .otherwise("0_keep").as("verdict"))
  }

  /** text_classifier: hashed linear quality classifier — the
    * model-based filter rung of the quality family (gopherRules is the
    * heuristic rung; production pipelines run a fastText-style linear
    * model next). Features are hashed unigrams, the weight of a token
    * is a deterministic function of its hash (h60("w:"||token) mod 1001
    * - 500 — a stand-in for trained weights; swapping in a real model
    * is a broadcast (token, weight) map feeding the SAME per-row fold),
    * and a document's score is the sum over token OCCURRENCES. The
    * entire score is one array fold per row — no explode, no shuffle, a
    * 100 TB corpus scores in a single embarrassingly-parallel pass.
    *
    * Output: (doc_id, n_tokens, score, kept) — kept mirrors the
    * pipeline gate score >= 0.
    */
  def classifierScore(spark: SparkSession, sfDir: String): DataFrame =
    classifierFrame(table(spark, sfDir, "documents")).orderBy("doc_id")

  /** pipeline_rule_agreement: pairwise confusion matrix between the
    * three INDEPENDENT keep/drop signals the pipeline can gate on —
    * the Gopher structural rules ([[gopherRules]]' composite keep),
    * the hashed-unigram classifier ([[classifierFrame]]'s score >= 0),
    * and the stopword-density heuristic ([[qualityScore]]'s
    * quality_keep). This is the audit a corpus build runs BEFORE
    * committing to a filter stack at 100 TB: a pair that agrees
    * everywhere means one signal is redundant compute; a pair that
    * disagrees on a large mass marks exactly the documents to sample
    * and adjudicate by hand. agree_milli (accuracy-style, includes
    * both-drop) and jaccard_milli (keep-overlap only) are reported
    * separately because prevalence skew makes raw agreement flatter
    * than keep-set overlap.
    *
    * Scale shape: all three flags evaluate in ONE narrow per-row pass
    * over the same token array (no joins between the signal
    * relations), feed a single 10-sum map-side-combinable aggregation,
    * and the 3-row matrix unfolds from that one row by a constant
    * explode — nothing shuffles but the scalar rollup. Output:
    * (rule_a, rule_b, n11, n10, n01, n00, agree_milli, jaccard_milli)
    * with n11 = both keep, n10 = only rule_a, ordered by (rule_a,
    * rule_b). jaccard_milli is NULL when neither rule keeps anything.
    */
  def ruleAgreement(spark: SparkSession, sfDir: String,
                    minWords: Int = 10, maxWords: Int = 100000): DataFrame = {
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val nTok = size(toks).cast("long")
    val nStopOcc = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast("long")
    val weight: Column => Column = t =>
      OracleHash.h60(concat(lit("w:"), t)) % 1001L - 500L
    val cscore = aggregate(toks, lit(0L), (acc, t) => acc + weight(t))
    val gKeep = gopherColumns(minWords, maxWords).last
    def pair(a: String, b: String, k: String, n: Column) = struct(
      lit(a).as("rule_a"), lit(b).as("rule_b"),
      col(s"${k}11").as("n11"), col(s"${k}10").as("n10"), col(s"${k}01").as("n01"),
      (n - col(s"${k}11") - col(s"${k}10") - col(s"${k}01")).as("n00"))
    // the classifier fold is an md5 per token OCCURRENCE fused into the
    // scan stage — spread when the scan plans narrow (the fused stage
    // ran ~1.2 s single-task at sf0.1)
    val docs = table(spark, sfDir, "documents")
    graft.Rebalance.spreadIfNarrow(docs, docs, graft.Rebalance.WindowDense,
        col("doc_id"))
      .select(
        when(gKeep, 1L).otherwise(0L).as("g"),
        when(cscore >= 0L, 1L).otherwise(0L).as("c"),
        when(nTok >= minWords && nTok <= maxWords && nStopOcc * 100L >= nTok, 1L)
          .otherwise(0L).as("q"))
      .agg(count(lit(1)).as("n"),
        sum(col("g") * col("c")).as("gc11"),
        sum(col("g") * (lit(1L) - col("c"))).as("gc10"),
        sum((lit(1L) - col("g")) * col("c")).as("gc01"),
        sum(col("g") * col("q")).as("gq11"),
        sum(col("g") * (lit(1L) - col("q"))).as("gq10"),
        sum((lit(1L) - col("g")) * col("q")).as("gq01"),
        sum(col("c") * col("q")).as("cq11"),
        sum(col("c") * (lit(1L) - col("q"))).as("cq10"),
        sum((lit(1L) - col("c")) * col("q")).as("cq01"))
      .select(explode(array(
        pair("gopher", "classifier", "gc", col("n")),
        pair("gopher", "quality", "gq", col("n")),
        pair("classifier", "quality", "cq", col("n")))).as("r"))
      .select(col("r.rule_a").as("rule_a"), col("r.rule_b").as("rule_b"),
        col("r.n11").as("n11"), col("r.n10").as("n10"),
        col("r.n01").as("n01"), col("r.n00").as("n00"))
      .withColumn("agree_milli",
        expr("(1000 * (n11 + n00)) div (n11 + n10 + n01 + n00)"))
      .withColumn("jaccard_milli",
        expr("CASE WHEN n11 + n10 + n01 > 0 THEN (1000 * n11) div (n11 + n10 + n01) END"))
      .orderBy("rule_a", "rule_b")
  }

  /** Composable classifier core over any (doc_id, text) frame — see
    * [[scrubFrame]] for the batch/streaming sharing rationale.
    */
  def classifierFrame(docs: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val weight: Column => Column = t =>
      OracleHash.h60(concat(lit("w:"), t)) % 1001L - 500L
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + weight(t)).as("score"))
      .withColumn("kept", col("score") >= 0L)
  }

  // ——— Trained quality classifier (rule distillation by integer LMS) ———

  /** Number of unrolled gradient steps and the fixed-point learning
    * rate (1/lrDen). Shared with the DuckDB oracle generator in
    * SparkEntry so both engines run the identical recurrence.
    */
  val classifierIters = 6
  val classifierLrDen = 4
  /** Feature dimensionality: 8 standardized signals + a bias column. */
  val classifierDims = 9

  /** Integral division as a Column (the SQL `div` operator — decimal
    * or long operands, LONG result). TRUE decimal division + cast
    * would ROUND at the result scale instead of flooring, so it must
    * be the catalyst IntegralDivide node, built through the bridge.
    */
  private def idiv(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftExpressionBridge.expression(a),
        org.apache.spark.sql.GraftExpressionBridge.expression(b),
        evalMode = org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))

  /** Sign-decomposed integer division: both engines floor-divide
    * non-negative operands identically (Spark `div` truncates toward
    * zero, DuckDB `//` floors — they agree only when the dividend is
    * non-negative), so every signed division in the classifier runs as
    * sign * (abs(a) div b). Mirrored verbatim in the oracle SQL.
    */
  private def sgnDiv(a: Column, b: Column): Column =
    when(a < 0, lit(-1L)).otherwise(lit(1L)) * idiv(abs(a), b)

  /** Raw per-document quality signals (integer milli-fractions) and
    * the composite rule label this family distills. The signals are
    * the cheap per-row measurements every curation stack already
    * computes (stopword density, punctuation/digit/uppercase mass,
    * mean token length, type-token ratio, short/long token share); the
    * label is the stopword-density gate [[qualityScore]] keys on — so
    * the trained model is a DISTILLATION of the rule stack into one
    * linear scorer, the standard move before scoring 100 TB with a
    * model instead of a rule cascade (fastText-style quality filters
    * are trained exactly this way, on rule- or LLM-labeled samples).
    *
    * All integer arithmetic: milli-fractions with `div`, no floats, so
    * the DuckDB oracle reproduces every bit.
    */
  private def classifierRaw(docs: DataFrame): DataFrame = {
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val nTok = size(toks).cast("long")
    val nChars = greatest(length(col("text")).cast("long"), lit(1L))
    def charMass(re: String): Column =
      (length(col("text")) - length(regexp_replace(col("text"), re, ""))).cast("long")
    def tokShare(c: Column): Column = (lit(1000L) * c).cast("long")
    docs
      .filter(nTok > 0)
      .select(col("doc_id"),
        idiv(tokShare(size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*)))), nTok)
          .as("r0"),
        idiv(lit(1000L) * charMass("[\\.,;:!\\?]"), nChars).as("r1"),
        idiv(lit(1000L) * charMass("[0-9]"), nChars).as("r2"),
        idiv(lit(100L) * length(col("text")).cast("long"), nTok).as("r3"),
        idiv(tokShare(size(array_distinct(toks))), nTok).as("r4"),
        idiv(tokShare(size(filter(toks, t => length(t) <= 2))), nTok).as("r5"),
        idiv(tokShare(size(filter(toks, t => length(t) >= 8))), nTok).as("r6"),
        idiv(lit(1000L) * charMass("[A-Z]"), nChars).as("r7"),
        when(nTok >= 10L && nTok <= 100000L &&
          size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast("long") * 100L >= nTok,
          lit(1000L)).otherwise(lit(0L)).as("y"))
  }

  /** Standardized feature frame (doc_id, f0..f7 z-scores in milli,
    * f8 = 1000 bias, y): one global-stats pass (count/sum/sum-of-
    * squares per signal, map-side combinable), then a 1-row broadcast
    * back over the corpus. Integer variance, integer-floored IEEE
    * sqrt (correctly rounded in both engines, so deterministic), and
    * sign-decomposed division keep it oracle-exact. Standardization
    * matters here, not just cosmetically: LMS on unscaled signals
    * spends its iterations on whichever feature has the largest raw
    * variance; on z-scores the informative coordinate wins (measured:
    * AUC 0.51 raw -> 0.99 standardized on the harness corpus).
    */
  private[graft] def classifierFeatures(docs: DataFrame): DataFrame = {
    val raw = classifierRaw(docs)
    val dims = 0 until (classifierDims - 1)
    val stats = raw.agg(
      greatest(count(lit(1)), lit(1L)).cast("decimal(38,0)").as("n"),
      dims.flatMap(d => Seq(
        sum(col(s"r$d").cast("decimal(38,0)")).as(s"s$d"),
        sum(col(s"r$d").cast("decimal(38,0)") * col(s"r$d")).as(s"q$d"))): _*)
    val zCols = dims.map { d =>
      val mean = idiv(col(s"s$d"), col("n"))
      val varI = idiv(col("n") * col(s"q$d") - col(s"s$d") * col(s"s$d"),
        col("n") * col("n"))
      val std = greatest(floor(sqrt(varI.cast("double"))).cast("long"), lit(1L))
      sgnDiv((col(s"r$d") - mean) * 1000L, std).as(s"f$d")
    }
    raw.crossJoin(broadcast(stats))
      .select(col("doc_id") +: zCols :+ lit(1000L).as("f8") :+ col("y"): _*)
  }

  /** Linear prediction in milli from micro weights: sum(w_d * f_d) is
    * micro*milli = nano; one sign-decomposed div 10^6 brings it back
    * to milli. Per-doc magnitudes stay far inside BIGINT.
    */
  private def predMilli: Column = {
    val s = (0 until classifierDims).map(d => col(s"w$d") * col(s"f$d"))
      .reduce(_ + _)
    sgnDiv(s, lit(1000000L))
  }

  /** Train the distilled classifier: batch gradient descent on squared
    * loss (LMS), [[classifierIters]] unrolled steps at learning rate
    * 1/[[classifierLrDen]], all fixed-point integer so the oracle can
    * replay the exact weight trajectory.
    *
    * Scale shape: the feature pass is materialized ONCE (the
    * checkpoint-seam discipline of the CC/PageRank loops — six
    * iterations must not re-scan and re-regex 100 TB); each step is
    * then one map-side-combinable 10-column aggregate over the feature
    * frame plus a 1-row broadcast back. Nothing corpus-sized moves:
    * the weight state is ONE row, the gradients are DECIMAL(38,0) sums
    * (a 10^12-doc corpus cannot wrap them). No driver-side convergence
    * loop — the iteration count is fixed, so training is pure plan
    * construction, exactly like [[graft.ops.Similarity.pcaPower]].
    *
    * Returns the feature frame and the 1-row weight frame after each
    * step (w0..w8 in micro units).
    */
  private[graft] def classifierTrained(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[DataFrame]) =
    // train-once-per-run store (the bm25Store / bpeTrainMerges
    // pattern): the trajectory, the AUC readout and the PR sweep all
    // evaluate ONE trained model per corpus snapshot — production
    // trains once and ships the weights to every consumer.
    classifierStores.getOrBuild(spark, sfDir, Seq("documents")) {
      classifierTrainedUncached(spark, sfDir)
    }

  private val classifierStores =
    new graft.ArtifactStore[(DataFrame, Seq[DataFrame])]("text.classifier")({
      case (feats, steps) =>
        graft.Materialize.release(feats)
        steps.foreach(graft.Materialize.release)
    })

  private def classifierTrainedUncached(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val feats = classifierFeatures(table(spark, sfDir, "documents")).materialized
    val dims = 0 until classifierDims
    var w = feats.sparkSession.range(1)
      .select(dims.map(d => lit(0L).as(s"w$d")): _*)
    val steps = (1 to classifierIters).map { _ =>
      val g = feats.crossJoin(broadcast(w)).agg(
        greatest(count(lit(1)), lit(1L)).as("n"),
        dims.flatMap(d => Seq(
          sum(((predMilli - col("y")) * col(s"f$d")).cast("decimal(38,0)")).as(s"g$d"),
          max(col(s"w$d")).as(s"pw$d"))): _*)
      w = g.select(dims.map { d =>
        (coalesce(col(s"pw$d"), lit(0L)) -
          sgnDiv(sgnDiv(coalesce(col(s"g$d"), lit(0L)).cast("decimal(38,0)"), col("n")),
            lit(classifierLrDen.toLong))).as(s"w$d")
      }: _*).materialized
      w
    }
    (feats, steps)
  }

  /** text_classifier_train: the weight trajectory — (it, dim, w_micro)
    * for every unrolled LMS step, ordered. Consecutive near-equal
    * iterates mean the fit has converged; a sign flip between steps
    * means the rate is too hot for that coordinate. This is the
    * artifact a pipeline persists and audits before swapping the rule
    * cascade for the model at full scale.
    */
  def classifierTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, steps) = classifierTrained(spark, sfDir)
    steps.zipWithIndex.map { case (w, i) =>
      w.select(explode(array((0 until classifierDims).map(d =>
        struct(lit(i + 1L).as("it"), lit(d.toLong).as("dim"),
          col(s"w$d").as("w_micro"))): _*)).as("r"))
        .select(col("r.it").as("it"), col("r.dim").as("dim"),
          col("r.w_micro").as("w_micro"))
    }.reduce(_.unionAll(_)).orderBy("it", "dim")
  }

  /** text_classifier_auc: held-in evaluation of the trained scorer —
    * ROC AUC by the Mann-Whitney rank-sum (midranks for ties, exact
    * in ppm) plus the confusion matrix at the 500-milli operating
    * point. The AUC is the number a pipeline checks BEFORE picking any
    * threshold: it measures ranking quality independent of operating
    * point, so a regression here says the model (not the threshold)
    * went wrong.
    *
    * Scale shape: scoring is one narrow broadcast-join pass; the
    * rank-sum then runs over the score HISTOGRAM (groupBy pred_milli),
    * whose cardinality is bounded by the score's value domain (a few
    * thousand distinct millis — weights and features are bounded), NOT
    * by corpus size, so the single ordered window over it is
    * scale-free. Output: one row (n, n_pos, n_neg, tp, fp, fn, tn,
    * acc_milli, auc_ppm); auc_ppm is NULL when either class is absent.
    */
  def classifierAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val (feats, steps) = classifierTrained(spark, sfDir)
    // limit(1) is a no-op on the 1-row weight frame, but it puts the
    // boundedness IN the plan: the checkpointed frame scans as a bare
    // RDD, so without it the broadcast side carries no structural
    // evidence for the PlanShapeSpec no-quadratic sweep
    val scored = feats.crossJoin(broadcast(steps.last.limit(1)))
      .select(col("y"), predMilli.as("s"))
    val grp = scored.groupBy("s").agg(
      count(lit(1)).as("cnt"),
      sum(when(col("y") === 1000L, 1L).otherwise(0L)).as("pos"))
    val cum = grp.withColumn("cb",
      coalesce(sum(col("cnt")).over(
        Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // rank-sum products are DECIMAL(38,0): pos * midrank reaches n^2
    // (~10^24 at a trillion docs) — a BIGINT sum would wrap silently
    cum.agg(
      sum(col("cnt")).as("n"),
      sum(col("pos")).as("n_pos"),
      sum(col("cnt") - col("pos")).as("n_neg"),
      sum(col("pos").cast("decimal(38,0)") *
        (lit(2L) * col("cb") + col("cnt") + lit(1L)).cast("decimal(38,0)")).as("r2s"),
      sum(when(col("s") >= 500L, col("pos")).otherwise(0L)).as("tp"),
      sum(when(col("s") >= 500L, col("cnt") - col("pos")).otherwise(0L)).as("fp"))
      .select(
        col("n"), col("n_pos"), col("n_neg"), col("tp"), col("fp"),
        (col("n_pos") - col("tp")).as("fn"),
        (col("n_neg") - col("fp")).as("tn"),
        expr("(1000 * (tp + n_neg - fp)) div n").as("acc_milli"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          idiv(lit(1000000L).cast("decimal(38,0)") *
            (col("r2s") - col("n_pos").cast("decimal(38,0)") *
              (col("n_pos") + lit(1L)).cast("decimal(38,0)")),
            lit(2L).cast("decimal(38,0)") * col("n_pos").cast("decimal(38,0)") *
              col("n_neg").cast("decimal(38,0)")))
          .as("auc_ppm"))
  }

  /** text_classifier_pr: the operating-point sweep — precision/recall/
    * F1 at eleven fixed thresholds (0..1000 milli, step 100) over the
    * trained scorer. This is the table a corpus build reads to PICK
    * the keep threshold: recall falls monotonically with tau, and the
    * chosen point trades retained token mass against precision on the
    * rule label.
    *
    * Scale shape: one conditional-sum aggregate over the scored frame
    * (22 map-side-combinable counters), unfolded to 11 rows by a
    * constant explode — the [[ruleAgreement]] shape; no window, no
    * join, no per-threshold pass.
    */
  def classifierPr(spark: SparkSession, sfDir: String): DataFrame = {
    val (feats, steps) = classifierTrained(spark, sfDir)
    // limit(1) is a no-op on the 1-row weight frame, but it puts the
    // boundedness IN the plan: the checkpointed frame scans as a bare
    // RDD, so without it the broadcast side carries no structural
    // evidence for the PlanShapeSpec no-quadratic sweep
    val scored = feats.crossJoin(broadcast(steps.last.limit(1)))
      .select(col("y"), predMilli.as("s"))
    val taus = 0 to 1000 by 100
    val agg = scored.agg(
      sum(when(col("y") === 1000L, 1L).otherwise(0L)).as("n_pos"),
      taus.flatMap(t => Seq(
        sum(when(col("s") >= t.toLong && col("y") === 1000L, 1L).otherwise(0L))
          .as(s"tp$t"),
        sum(when(col("s") >= t.toLong && col("y") =!= 1000L, 1L).otherwise(0L))
          .as(s"fp$t"),
        sum(when(col("s") < t.toLong && col("y") =!= 1000L, 1L).otherwise(0L))
          .as(s"tn$t"))): _*)
    agg.select(explode(array(taus.map(t => struct(
      lit(t.toLong).as("tau"),
      col(s"tp$t").as("tp"), col(s"fp$t").as("fp"),
      (col("n_pos") - col(s"tp$t")).as("fn"), col(s"tn$t").as("tn"))): _*)).as("r"))
      .select(col("r.tau").as("tau"), col("r.tp").as("tp"), col("r.fp").as("fp"),
        col("r.fn").as("fn"), col("r.tn").as("tn"))
      .withColumn("prec_milli",
        when(col("tp") + col("fp") > 0L, expr("(1000 * tp) div (tp + fp)")))
      .withColumn("rec_milli",
        when(col("tp") + col("fn") > 0L, expr("(1000 * tp) div (tp + fn)")))
      .withColumn("f1_milli",
        when(coalesce(col("prec_milli"), lit(0L)) + coalesce(col("rec_milli"), lit(0L)) > 0L,
          expr("(2 * prec_milli * rec_milli) div (prec_milli + rec_milli)")))
      .orderBy("tau")
  }

  // ——— PII detection & redaction ———

  /** Detection patterns, shared VERBATIM with the DuckDB oracle (Java
    * regex here, RE2 there — the subset used, ASCII character classes,
    * bounded repetition and `\b` word boundaries, matches identically
    * in both engines). Deliberately the standard curation-pipeline
    * trio — emails, NANP-style phone fragments, dotted-quad IPs — the
    * cheap high-precision shapes public corpus builds actually scrub
    * before anything persists raw text.
    */
  val piiEmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiPhoneRe: String = "\\b\\d{3}-\\d{4}\\b"
  val piiIpRe: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII test fixture: the harness corpus is synthetic word salad with
    * no PII, so the registered query plants deterministic contact
    * strings derived from doc_id before detecting them — known
    * positives AND negatives while the input stays a pure projection
    * of the harness table (the oracle derives the identical text).
    * doc_id % 3 == 0 gains an email, % 5 == 0 a phone fragment,
    * % 7 == 0 a dotted-quad, so coverage spans docs carrying 0..3
    * kinds at once.
    */
  private[graft] def piiInjected(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad(((col("doc_id") * 7919) % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" host 10."), (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 31) % 256).cast("string"), lit("."),
            ((col("doc_id") * 17) % 256).cast("string"))).otherwise(lit("")))
        .as("text"))

  /** text_pii: PII detection + redaction with audit — count each PII
    * kind in the raw text, then mask every occurrence and prove the
    * redacted document by md5 (the scrubFrame pattern: the text itself
    * never ships). Mask order is part of the contract: emails first
    * (so an address can never leave digit-dot residue for the IP
    * pass), then IPs, then phones — the three patterns are mutually
    * non-overlapping on any input once emails are gone.
    *
    * Pure per-row regex projection — no shuffle, stays in whole-stage
    * codegen, embarrassingly parallel at 100 TB; the redaction stage a
    * production ingest runs BEFORE the raw crawl persists anywhere.
    *
    * Output: (doc_id, n_emails, n_phones, n_ips, pii_total, masked_md5).
    */
  def piiFrame(docs: DataFrame): DataFrame = {
    val masked = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), lit(piiEmailRe), lit("<EMAIL>")),
        lit(piiIpRe), lit("<IP>")),
      lit(piiPhoneRe), lit("<PHONE>"))
    docs
      .select(col("doc_id"),
        regexp_count(col("text"), lit(piiEmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(piiPhoneRe)).cast("long").as("n_phones"),
        regexp_count(col("text"), lit(piiIpRe)).cast("long").as("n_ips"),
        md5(masked).as("masked_md5"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        (col("n_emails") + col("n_phones") + col("n_ips")).as("pii_total"),
        col("masked_md5"))
  }

  /** Registered batch form of [[piiFrame]] over the injected corpus. */
  def piiScan(spark: SparkSession, sfDir: String): DataFrame =
    piiFrame(piiInjected(table(spark, sfDir, "documents"))).orderBy("doc_id")

  /** vocab_growth: Heaps-law vocabulary growth audit — how fast the
    * distinct-token vocabulary grows as the corpus is consumed in
    * doc_id order, reported per corpus decile: new types per decile,
    * cumulative types, and the token-occurrence volume that bought
    * them. The canonical diminishing-returns curve a corpus build
    * checks before paying for more crawl of the same sources (a
    * flattening curve means new data is re-treading the vocabulary;
    * tokenizer-vocab and OOV planning read the same curve).
    *
    * Scale shape: a token's FIRST bucket is `min(bucket)` over one
    * hash aggregation on the token key (map-side combinable — NOT a
    * sort or window over occurrences), the per-bucket occurrence count
    * is a second aggregation on the ~10-row bucket key, and the only
    * window runs over the |buckets| result rows. The corpus-max
    * broadcast is one row. Linear in corpus size at any scale.
    *
    * Output: (bucket, n_tokens, n_new_types, cum_tokens, cum_types).
    */
  def vocabGrowth(spark: SparkSession, sfDir: String, buckets: Int = 10): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), t => length(t) > 0)).as("token"))
    val maxId = docs.agg(max(col("doc_id")).as("max_id"))
    val bucketed = toks.crossJoin(broadcast(maxId))
      .select(expr(s"(doc_id * $buckets) div (max_id + 1)").as("bucket"), col("token"))
    val occ = bucketed.groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
    val firstSeen = bucketed.groupBy("token").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_types"))
    val w = Window.partitionBy().orderBy("bucket") // |buckets| rows post-agg
    occ.join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("n_new_types")).over(w))
      .orderBy("bucket")
  }

  /** vocab_coverage: how many vocabulary types cover p% of all token
    * OCCURRENCES — the curve a tokenizer-vocab sizing decision reads
    * (a 32k vocab is justified iff ~32k types cover ≈99% of the
    * stream; the heavy Zipf head means the 50% point is often a few
    * hundred types). Exact integers throughout.
    *
    * Scale shape — the trick is the FREQUENCY-CLASS rollup: ranking
    * every type by count and prefix-summing would put |vocab| rows
    * (10^8 at 100 TB) through one sort partition. Instead types
    * collapse to their frequency CLASS first (groupBy c: distinct
    * count VALUES number O(sqrt total) by Zipf — a few thousand at any
    * corpus size), the single-partition running sum runs over that
    * BOUNDED class table only (the shard_plan small-relation
    * justification), and within a class types are interchangeable so
    * the p% boundary interpolates arithmetically: types_needed =
    * prev_types + ceil((need - prev_toks) / c). The need product
    * p·T runs in DECIMAL(38,0) (HUGEINT in the oracle) — at 10^14
    * tokens the BIGINT product would overflow.
    *
    * Output: (threshold_ppm, need_tokens, n_types_needed,
    * n_types_total, n_tokens_total), one row per threshold.
    */
  def coverageCurve(spark: SparkSession, sfDir: String,
                    thresholds: Seq[Long] = Seq(500000L, 900000L, 990000L)): DataFrame = {
    val tf = table(spark, sfDir, "documents")
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val cls = tf.groupBy("c").agg(count(lit(1)).as("n_types"))
    val w = Window.partitionBy().orderBy(col("c").desc) // |classes| rows, bounded
    val cum = cls
      .withColumn("cls_toks", col("c") * col("n_types"))
      .withColumn("cum_toks", sum(col("cls_toks")).over(w))
      .withColumn("cum_types", sum(col("n_types")).over(w))
      .withColumn("prev_toks", col("cum_toks") - col("cls_toks"))
      .withColumn("prev_types", col("cum_types") - col("n_types"))
    val tot = cum.agg(max(col("cum_toks")).as("t_tokens"),
      max(col("cum_types")).as("t_types"))
    spark.range(1)
      .select(explode(array(thresholds.map(lit(_)): _*)).as("p"))
      .crossJoin(broadcast(tot))
      .withColumn("need",
        expr("CAST((CAST(p AS DECIMAL(38,0)) * t_tokens + 999999) div 1000000 AS BIGINT)"))
      .join(broadcast(cum),
        col("cum_toks") >= col("need") && col("prev_toks") < col("need"))
      .select(col("p").as("threshold_ppm"), col("need").as("need_tokens"),
        (col("prev_types") + expr("(need - prev_toks + c - 1) div c"))
          .as("n_types_needed"),
        col("t_types").as("n_types_total"), col("t_tokens").as("n_tokens_total"))
      .orderBy("threshold_ppm")
  }

  /** text_lm_holdout: held-out bigram LM scoring — the evaluation
    * discipline `lmScore` lacks: lmScore trains and scores on the SAME
    * corpus and silently drops unseen bigrams (inner join), so it
    * cannot say how the model generalizes. Here the LM trains on the
    * train split (doc_id % mod != 0) and scores the HELD-OUT docs with
    * add-one smoothing: cond = (c12 + 1) / (c1 + V), V = train unigram
    * vocabulary — every val bigram gets mass, unseen ones get the
    * smoothed floor, and n_seen/n_bigrams surfaces the coverage the
    * smoothing papered over. This is the fluency-scoring shape (CCNet
    * et al.) a corpus build actually deploys: the scoring model is
    * always trained elsewhere.
    *
    * Scale shape: train-side counts are two map-side-combinable
    * aggregates; scoring is two key-shuffle LEFT joins (bigram, then
    * first-word) plus a broadcast 1-row vocabulary size — linear in
    * both splits, no self-joins. Integral milli math end to end.
    *
    * Output: (doc_id, n_bigrams, n_seen, lm_milli) for held-out docs
    * with >= 1 bigram, ordered by doc_id.
    */
  def lmHoldout(spark: SparkSession, sfDir: String, mod: Int = 10): DataFrame = {
    import graft.functions.ShingleColumns.wordShingles
    val docs = table(spark, sfDir, "documents")
    def bigrams(d: DataFrame): DataFrame =
      d.select(col("doc_id"), explode(wordShingles(col("text"), 2)).as("bigram"))
    val train = docs.filter(col("doc_id") % mod =!= 0)
    val tb = bigrams(train).groupBy("bigram").agg(count(lit(1)).as("c12"))
    val tu = train
      .select(explode(wordShingles(col("text"), 1)).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = tu.agg(count(lit(1)).as("v"))
    bigrams(docs.filter(col("doc_id") % mod === 0))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(tb, Seq("bigram"), "left")
      .join(tu, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        expr("(1000 * (coalesce(c12, 0) + 1)) div (coalesce(c1, 0) + v)").as("cond_milli"),
        when(col("c12").isNotNull, 1L).otherwise(0L).as("seen"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("seen")).as("n_seen"),
        expr("sum(cond_milli) div count(1)").as("lm_milli"))
      .orderBy("doc_id")
  }

  /** text_pmi: collocation mining — the corpus's top word pairs by
    * pointwise mutual information, the classic phrase-discovery signal
    * (Church & Hanks 1990) a tokenizer build runs to decide which
    * multi-word units deserve vocabulary slots, and a quality pass runs
    * to spot templated co-occurrence. PMI = log of the lift
    * c12·N1²/(N2·c1·c2); log is monotone, so ranking by the exact
    * integral lift (micros, floor) needs no floating point and stays
    * oracle-replayable. Pairs below `minCount` are dropped BEFORE the
    * unigram joins — the standard low-support guard (PMI's known bias:
    * hapax pairs score highest).
    *
    * Scale shape: two corpus scans (unigram and bigram explode), each
    * into a map-side-combinable count aggregate; the bigram count table
    * is materialized once and reused for its own total. Joins to the
    * unigram table are key-shuffles on the word; the final top-k is
    * TakeOrderedAndProject (per-partition heaps + one k-row merge),
    * never a global sort or single-partition window. The decimal lift
    * keeps exact integral ordering to ~1e10-token corpora; past that,
    * swap the ranking to double log-PMI (same order within precision)
    * — the support counts in the output stay exact either way.
    *
    * Output: top `k` rows (w1, w2, n_pair, n_w1, n_w2, lift_micro)
    * ordered by (lift_micro desc, w1, w2).
    */
  def pmiCollocations(spark: SparkSession, sfDir: String,
                      minCount: Long = 5, k: Int = 100): DataFrame = {
    import graft.functions.ShingleColumns.wordShingles
    val docs = table(spark, sfDir, "documents")
    val uni = docs
      .select(explode(wordShingles(col("text"), 1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .materialized // reused: both per-word joins + the N1 total
    val bigAll = docs
      .select(explode(wordShingles(col("text"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .materialized // reused: the N2 total + the supported subset
    val n1 = uni.agg(sum(col("c")).cast("long").as("n1"))
    val n2 = bigAll.agg(sum(col("c12")).cast("long").as("n2"))
    bigAll.filter(col("c12") >= minCount)
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"), col("c12"))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c12").as("n_pair"),
        col("c1").as("n_w1"), col("c2").as("n_w2"),
        expr("(cast(c12 as decimal(38,0)) * n1 * n1 * 1000000) div " +
          "(cast(n2 as decimal(38,0)) * c1 * c2)").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }
}
