package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity core: tokenize -> count -> top-K, the one canonical
  * query of the reference engine (SURVEY.md §2).
  *
  * Reference semantics re-expressed Spark-first:
  *  - O1 file scan        -> `spark.read.text` / a string column of any table
  *  - O2 tokenize (mapF)  -> `explode(filter(split(...), t -> length(t) > 0))`
  *                           (`strings.FieldsFunc` drops empty fields,
  *                           reference src/main/main.go:24-26); the
  *                           optimizer turns the filtered split into one
  *                           native byte scan (graft.plans.TokenizeRewrite)
  *  - O3 hash shuffle     -> Catalyst Exchange on groupBy — free, and with
  *                           map-side partial aggregation the reference lacks
  *  - O4+O6 group+count   -> `groupBy(token).count()` (reference
  *                           common_reduce.go:17-41 + main.go:47-49)
  *  - O5/O8 sort + merge  -> `orderBy` (global SortExec via range exchange;
  *                           the reference's single-map merge
  *                           master_splitmerge.go:13-50 is a driver-memory
  *                           bug at scale — we never collect)
  *  - O9 top-100          -> `orderBy(count desc).limit(k)` = TakeOrderedAndProject,
  *                           O(k) per partition + O(k·P) at driver, vs the
  *                           reference's external `sort -n -k2 | tail -100`
  *                           (src/main/main.sh:3)
  *  - O10 distinct keys   -> `distinct().orderBy(key)` (test_test.go:26-42)
  *
  * Scale notes (100 TB): tokenization is a narrow map — no shuffle until
  * the count. `groupBy.count` does partial aggregation before the exchange
  * so shuffle volume is bounded by the DISTINCT key count per partition,
  * not token count. Top-K never materializes the full sorted relation.
  */
object UrlCount {

  /** O2 tokenizer. `split` emits empty strings where Go's FieldsFunc drops
    * them (leading/trailing/multi-space), so the filter is required for
    * parity. `sep` is a Java regex; " " reproduces mapF, "\\s+" reproduces
    * the test-suite tokenizer (reference test_test.go:26-33). Written as
    * the engine's one tokenizer idiom, which TokenizeRewrite compiles to
    * `split_tokens`.
    */
  def tokenize(text: Column, sep: String = " "): Column =
    explode(filter(split(text, sep), t => length(t) > 0))

  /** Bag of non-empty tokens from one string column. Output column: `token`. */
  def tokens(df: DataFrame, textCol: String, sep: String = " "): DataFrame =
    df.select(tokenize(col(textCol), sep).as("token"))

  /** O4+O6: per-token occurrence counts, totally ordered by token.
    * Output: (token STRING, cnt BIGINT).
    */
  def tokenCounts(df: DataFrame, textCol: String, sep: String = " "): DataFrame =
    tokens(df, textCol, sep)
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("token")

  /** O9: top-K tokens by count. The reference's `sort -n | tail -100` leaves
    * rank-K ties arbitrary; we define the tie-break (token ascending) so the
    * result is total and oracle-comparable (SURVEY.md §7 hard parts).
    */
  def topK(df: DataFrame, textCol: String, k: Int = 100, sep: String = " "): DataFrame =
    tokens(df, textCol, sep)
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)

  /** O10: sorted distinct token set (the reference test suite's
    * identity-reduce job, test_test.go:26-42).
    */
  def distinctTokens(df: DataFrame, textCol: String, sep: String = "\\s+"): DataFrame =
    tokens(df, textCol, sep).distinct().orderBy("token")

  /** O8 text sink: `"key: value"` lines, globally sorted by key
    * (reference master_splitmerge.go:46). Returned as a one-column frame;
    * call `writeTextSink` to materialize like the reference does.
    */
  def mergedLines(counts: DataFrame, keyCol: String = "token", valCol: String = "cnt"): DataFrame =
    counts
      .orderBy(keyCol)
      .select(concat_ws(": ", col(keyCol).cast("string"), col(valCol).cast("string")).as("line"))

  /** Materialize the O8 sink. Single file only when asked (the reference
    * always merges to one file — at 100 TB you would not).
    */
  def writeTextSink(lines: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) lines.coalesce(1) else lines
    out.write.mode("overwrite").text(path)
  }

  /** O7 JSON sink: the reference's reduce-output format — one JSON
    * object per row (common_reduce.go:43-54 writes `{"Key":k,"Value":v}`
    * lines via json.Encoder). `df.write.json` is the distributed twin:
    * each task writes its partition as JSON lines; `singleFile` merges
    * to one file like the reference's per-reducer file (at 100 TB you
    * would keep one file per partition).
    */
  def writeJsonSink(counts: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) counts.coalesce(1) else counts
    out.write.mode("overwrite").json(path)
  }

  /** Approximate distinct-token count (HLL++): the 100 TB path for
    * distinct-key counting (SURVEY §7) — a fixed-size mergeable sketch
    * per partition, no shuffle of the keys themselves, vs the full
    * exchange `distinct` needs. Surfaced as (n_exact, within_tolerance):
    * the exact count plus an in-plan check that the rsd=2% sketch landed
    * within 5% of it, so the oracle gate hash-verifies the tolerance
    * claim; a production run at scale reads the approx value alone.
    *
    * Both counts run over the distinct token set: `count(1)` of it is the
    * exact count, and HLL++ ignores duplicates, so the sketch is the one
    * the bag would give. With `countDistinct` and the sketch in one
    * aggregate over the bag, Spark's one-distinct planning grouped by
    * token with a partial sketch per group, so every distinct token
    * carried a 410-word HLL++ buffer through that group-by and its
    * shuffle, more than doubling this query's time.
    */
  def approxDistinctTokens(df: DataFrame, textCol: String, sep: String = " "): DataFrame =
    tokens(df, textCol, sep).distinct()
      .agg(count(lit(1)).as("n_exact"),
        approx_count_distinct(col("token"), 0.02).as("n_approx"))
      .select(col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <= col("n_exact") * lit(0.05))
          .as("within_tolerance"))

  /** Explicitly SALTED two-phase counts — the manual skew-mitigation
    * pattern for aggregations on Zipf-distributed keys: phase 1 groups on
    * (token, salt) so a hot token's rows spread over `salts` reducers,
    * phase 2 merges the per-salt subtotals on the token alone (a shuffle
    * of at most `salts` rows per distinct token). The salt derives from
    * the row's id column — anything uncorrelated with the key works.
    *
    * For plain `count`, Spark's map-side partial aggregation already
    * bounds the hot key's shuffle volume at one row per (partition, key),
    * so this query exists to pin the TECHNIQUE (result identical to
    * `tokenCounts` — the oracle proves it) for the aggregations that
    * genuinely need it at 100 TB: per-key state too large to combine
    * map-side (exact distinct sets, collect_list percentiles, large
    * sketches), where without the salt every occurrence of the hottest
    * key lands on ONE reducer.
    */
  def saltedTokenCounts(df: DataFrame, textCol: String, idCol: String,
                        salts: Int = 16, sep: String = " "): DataFrame =
    df.select(pmod(col(idCol), lit(salts.toLong)).as("salt"),
        tokenize(col(textCol), sep).as("token"))
      .groupBy("token", "salt")
      .agg(count(lit(1)).as("c"))
      .groupBy("token")
      .agg(sum(col("c")).cast("long").as("cnt"))
      .orderBy("token")

  /** Heavy-hitter counts from a count-min sketch, GATED in-plan against
    * the exact counts — the frequency member of the sketch family
    * (HLL++ distinct: approxDistinctTokens; GK quantiles:
    * TextAnalysis.lengthQuantiles). One pass builds the fixed-size
    * mergeable CMS (no shuffle of the keys, only sketch merges); the
    * top-k exact counts — the verification harness, like the HLL twin's
    * exact side — probe it via the native cms_estimate expression over
    * the broadcast one-row sketch. Surfaced as (token, cnt,
    * within_tolerance): the oracle recomputes the exact side and
    * hash-verifies the estimate landed within 5% (CMS only
    * overestimates, by at most eps*N with the configured confidence, so
    * the gate trips only on a real sketch bug). At 100 TB production
    * reads the sketch alone.
    */
  def cmsHeavyHitters(df: DataFrame, textCol: String, k: Int = 5,
                      sep: String = " "): DataFrame = {
    val toks = tokens(df, textCol, sep)
    val sketch = toks.agg(
      expr("count_min_sketch(token, 0.0001d, 0.99d, 42)").as("cms"))
    val top = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)
    top.crossJoin(broadcast(sketch))
      .select(col("token"), col("cnt"),
        (abs(graft.functions.CmsColumns.cmsEstimate(col("cms"), col("token"))
          - col("cnt")) <= col("cnt") * lit(0.05)).as("within_tolerance"))
      .orderBy("token")
  }

  /** End-to-end reference pipeline over raw text files (EP1/EP2/EP3 of
    * SURVEY.md §3 collapse to this one plan).
    */
  def topKFromTextFiles(spark: SparkSession, paths: Seq[String], k: Int = 100): DataFrame =
    topK(spark.read.text(paths: _*).withColumnRenamed("value", "text"), "text", k)

  /** Frequency-of-frequencies (the Zipf audit): how many distinct
    * tokens occur exactly `cnt` times. The second aggregation's input
    * is one row per DISTINCT token and its output one row per distinct
    * count — the classic two-level rollup where each level shrinks by
    * orders of magnitude, so the corpus-sized shuffle happens exactly
    * once (the token count; Zipf head/tail shape, vocabulary growth and
    * Good-Turing smoothing mass all read off the result).
    */
  def freqOfFreqs(df: DataFrame, textCol: String, sep: String = " "): DataFrame =
    tokens(df, textCol, sep)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .groupBy("cnt").agg(count(lit(1)).as("n_tokens"))
      .orderBy("cnt")

  /** urlcount_canonical: URL canonicalization + host rollup — the
    * cleaning rung between a raw crawl's URL list and the counting
    * family above. Real crawl URLs disagree on scheme case, www
    * prefixes, and tracking parameters while naming the same page;
    * counting raw strings over-counts every host. Canonicalization
    * here: lowercase, strip scheme, strip leading www., drop the query
    * string for page identity (the aggressive URL-dedup rule), and
    * audit how many URLs carried tracking (utm_* / ref) parameters.
    *
    * The URL fixture is a deterministic projection of the documents
    * table (the harness corpus has no URLs): host from `source`, path
    * from doc_id residues, mixed-case scheme + www + tracking params
    * by doc_id parity — so every canonicalization rule has positives
    * and negatives and the oracle derives identical input.
    *
    * Per-row regex projection + one rollup on the host key — the same
    * shape (and scale story) as tokenCounts: linear, map-side
    * combinable, distinct-page counting two-phase on (host, page).
    *
    * Output: (host, n_urls, n_pages, n_tracked).
    */
  def canonicalHosts(spark: SparkSession, sfDir: String): DataFrame =
    canonicalUrls(graft.GraftSession.table(spark, sfDir, "documents"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("page")).as("n_pages"),
        sum(col("tracked")).as("n_tracked"))
      .orderBy("host")

  /** The per-row canonicalization core over any (doc_id, source) frame —
    * shared by the batch rollup and the streaming twin (which drops the
    * distinct-page count: chaining a distinct aggregation under a
    * streaming Complete-mode rollup is unsupported, and host-level
    * n_urls/n_tracked is the ingest-monitor signal anyway).
    * Output: (host, page, tracked).
    */
  private[graft] def canonicalUrls(docs: DataFrame): DataFrame = {
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
      when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".example.COM/p/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 2 === 0,
        concat(lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string")))
        .otherwise(concat(lit("?id="), (col("doc_id") % 7).cast("string"))))
    val lowered = lower(url)
    val noWww = regexp_replace(regexp_replace(lowered, "^https?://", ""),
      "^www\\.", "")
    docs.select(
        regexp_extract(noWww, "^([^/?]+)", 1).as("host"),
        regexp_replace(noWww, "\\?.*$", "").as("page"),
        when(regexp_count(lowered, lit("[?&](utm_[a-z]+|ref)=")) > 0, 1L)
          .otherwise(0L).as("tracked"))
  }
}
