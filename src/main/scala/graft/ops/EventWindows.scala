package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftSession.table
import graft.Materialize.MaterializeOps

/** Event-time window aggregation over the `events` table — the batch
  * analog of the streaming module (graft.streaming.StreamingOps runs the
  * same shapes under Structured Streaming with watermarks).
  *
  * The events table carries NANOSECOND timestamps, which Spark's parquet
  * reader can't represent as TimestampType; the session reads them as
  * BIGINT nanos (spark.sql.legacy.parquet.nanosAsLong) and all bucket
  * math here is exact integral `div` arithmetic — a double round-trip at
  * 1e18 nanos would silently lose sub-microsecond bits and break oracle
  * parity.
  *
  * Determinism: window boundaries are emitted as epoch seconds (BIGINT).
  * Money-style DOUBLE sums go through DECIMAL(18,6) for
  * partition-order-independent results.
  */
object EventWindows {

  private def dsum6(c: Column): Column =
    sum(c.cast("decimal(18,6)")).cast("double")

  /** Integral FLOOR division. `div` truncates toward zero — and so does
    * DuckDB's integer `//` (measured -7 // 2 = -3; contract_fuzz_rows
    * pins it), so floor semantics exist on NEITHER side natively: the
    * numerator is first snapped down to a multiple of the divisor with
    * pmod (always non-negative), making the truncating division exact
    * floor division with no double round-trip (nanos ~1e18 exceed a
    * double's 53-bit mantissa). Corpus timestamps are non-negative, so
    * the oracles' plain `//` twins agree; a pre-1970 operand needs the
    * explicit snapped form on the oracle side too.
    */
  private def floorDiv(c: String, d: Long): String =
    s"(($c - pmod($c, ${d}L)) div ${d}L)"

  /** Epoch seconds (BIGINT, floor) from the nanos column. */
  private val tsec: Column = expr(floorDiv("ts", 1000000000L))

  /** Floor `ts` to a `widthSec`-wide bucket, as epoch seconds. */
  private def bucket(widthSec: Long): Column =
    expr(s"${floorDiv(floorDiv("ts", 1000000000L), widthSec)} * ${widthSec}L")

  /** Tumbling 1-hour windows per event_type: count + value sum.
    * Equivalent to `groupBy(window($"ts","1 hour"), ...)`; expressed as
    * epoch-bucket arithmetic so the bucket key is a plain BIGINT (shuffle
    * key stays fixed-width, and the oracle can reproduce it).
    */
  def tumbling(spark: SparkSession, sfDir: String, widthSec: Long = 3600): DataFrame =
    table(spark, sfDir, "events")
      .withColumn("win_start", bucket(widthSec))
      .groupBy("win_start", "event_type")
      .agg(count(lit(1)).as("n"), dsum6(col("value")).as("sum_value"))
      .orderBy("win_start", "event_type")

  /** Sliding windows: width 1h, slide 30m — each event lands in exactly
    * width/slide buckets. Spark's `window(ts, w, s)` does the same
    * replicate-then-group; spelled out so the expansion factor (2x here)
    * is explicit — at 100 TB you keep slide/width small and push any
    * pre-filter below the explode.
    */
  def sliding(spark: SparkSession, sfDir: String,
              widthSec: Long = 3600, slideSec: Long = 1800): DataFrame = {
    val nBuckets = (widthSec / slideSec).toInt
    val offsets = (0 until nBuckets).map(i => i * slideSec)
    table(spark, sfDir, "events")
      .withColumn("base", bucket(slideSec))
      .withColumn("off", explode(array(offsets.map(lit(_)): _*)))
      .withColumn("win_start", col("base") - col("off"))
      .groupBy("win_start", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("win_start", "event_type")
  }

  /** Session windows per user (gap-based): a new session starts when the
    * gap since the previous event of that user exceeds `gapSec`. Classic
    * lag + running-sum-of-boundaries formulation — one shuffle on
    * user_id, sessions never cross partitions so it scales linearly.
    * (Streaming twin: session_window / flatMapGroupsWithState in
    * graft.streaming.)
    *
    * Output: per user, number of sessions and events of the longest
    * session — small, deterministic, oracle-friendly.
    */
  def sessionize(spark: SparkSession, sfDir: String, gapSec: Long = 1800): DataFrame = {
    val ev = table(spark, sfDir, "events")
      .select(col("user_id"), tsec.as("t"), col("ts"), col("event_id"))
    // ts is BIGINT nanos: ordering by it equals event-time ordering, exactly
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val sessions = ev
      .withColumn("prev", lag(col("t"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("t") - col("prev") > gapSec, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    sessions.groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("sess_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), max(col("sess_events")).as("max_session_events"))
      .orderBy("user_id")
  }

  /** As-of join (time-series attribution): for each `purchase` event,
    * the LATEST `view` event by the same user at or before it — the
    * operator behind conversion attribution, sensor alignment and
    * trade-vs-quote joins. Spark has no native as-of join; a range join
    * (view.ts <= purchase.ts) explodes quadratically in dense keys, so
    * this composes the scalable MapReduce-classic form instead: tag both
    * sides, ONE shuffle on the key, order within each user by event
    * time, and carry the last view forward with a running window —
    * linear in events, no range explosion.
    *
    * Tie policy (total, so both engines agree): the attributed view is
    * the one with the greatest (ts, event_id) among views with
    * ts <= purchase.ts — a view sharing the purchase's exact timestamp
    * counts (views order before purchases at equal ts), and equal-ts
    * views resolve to the largest event_id. Purchases with no prior
    * view surface NULL attribution (kept: the unattributed count is
    * the interesting number).
    *
    * Output: (purchase_event_id, user_id, purchase_tus, view_event_id,
    * view_tus, lag_us), micros everywhere, ordered by purchase id.
    */
  def asOfAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"),
        expr(floorDiv("ts", 1000L)).as("tus"),
        (col("event_type") === "purchase").cast("int").as("is_purchase"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus").asc, col("is_purchase").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastView = last(
      when(col("is_purchase") === 0,
        struct(col("tus").as("vt"), col("event_id").as("vid"))),
      ignoreNulls = true).over(w)
    ev.withColumn("lv", lastView)
      .filter(col("is_purchase") === 1)
      .select(col("event_id").as("purchase_event_id"), col("user_id"),
        col("tus").as("purchase_tus"),
        col("lv.vid").as("view_event_id"), col("lv.vt").as("view_tus"),
        (col("tus") - col("lv.vt")).as("lag_us"))
      .orderBy("purchase_event_id")
  }

  /** Exact distinct users per event type, spelled as the explicit
    * two-phase rewrite: phase 1 dedups on the (event_type, user_id) PAIR
    * — the shuffle key carries the high-cardinality value, so even if
    * one event type dominates the stream its rows spread over every
    * reducer — phase 2 counts the surviving pairs per type (at most
    * |distinct users| rows per type move). This is the skew-proof shape
    * of COUNT(DISTINCT) at 100 TB; the single-phase form would funnel
    * the hot type's full user stream through one reducer's in-memory
    * set. (Spark's own count_distinct plans an Expand + two-key
    * aggregate — same idea; this query pins the explicit composition the
    * library exposes for aggregations the optimizer does NOT rewrite,
    * e.g. exact medians or collect_set joins.) The approximate twin at
    * scale is approx_count_distinct (see urlcount_approx_distinct).
    */
  def distinctUsersPerType(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .select("event_type", "user_id")
      .distinct()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")

  /** Batch interval join (the batch twin of
    * streaming.StreamingOps.streamViewPurchaseJoin): every (purchase,
    * view) pair by the same user with the view inside the purchase's
    * 1-hour lookback, endpoints inclusive.
    *
    * The naive plan — equi-join on user_id, range predicate as a
    * post-filter — generates |purchases(u)| x |views(u)| candidate pairs
    * per user BEFORE the filter: quadratic in per-user event density, and
    * one hot user (a bot at 100 TB) lands an unbounded task. This instead
    * refines the join key with a coarse TIME BUCKET of the lookback
    * width: a view belongs to exactly one bucket; a purchase's window
    * [t-L, t] overlaps exactly two (floor((t-L)/L) = floor(t/L)-1), so
    * the probe side replicates 2x and the equi-join key becomes
    * (user_id, bucket). Candidate pairs are then bounded by pairs within
    * 2L of each other — proportional to the TRUE output, not to the
    * per-user totals — and a hot user's year of traffic spreads over
    * ~8760 hourly bucket keys instead of one. Same key refinement the
    * streaming engine gets from watermark-bounded state; AQE skew-split
    * remains as the backstop for a single hot (user, hour).
    */
  def intervalJoin(spark: SparkSession, sfDir: String, lookbackSec: Long = 3600): DataFrame = {
    val lUs = lookbackSec * 1000000L
    val ev = table(spark, sfDir, "events")
    def toBucket(tusCol: String): String =
      s"(($tusCol - pmod($tusCol, ${lUs}L)) div ${lUs}L)"
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_event_id"), col("user_id").as("v_user_id"),
        expr(floorDiv("ts", 1000L)).as("view_tus"))
      .withColumn("bucket", expr(toBucket("view_tus")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event_id"), col("user_id"),
        expr(floorDiv("ts", 1000L)).as("purchase_tus"))
      .withColumn("b0", expr(toBucket("purchase_tus")))
      .withColumn("bucket", explode(array(col("b0") - 1, col("b0"))))
      .drop("b0")
    purchases.join(views,
        purchases("user_id") === views("v_user_id") &&
          purchases("bucket") === views("bucket") &&
          views("view_tus") >= purchases("purchase_tus") - lUs &&
          views("view_tus") <= purchases("purchase_tus"))
      .select(col("purchase_event_id"), col("user_id"), col("purchase_tus"),
        col("view_event_id"), col("view_tus"),
        (col("purchase_tus") - col("view_tus")).as("lag_us"))
      .orderBy("purchase_event_id", "view_event_id")
  }

  /** Funnel analysis: how many users progress through the ordered step
    * sequence (view -> click -> purchase), where step k counts only at
    * or after the user's step-(k-1) reach time (non-strict: equal
    * timestamps chain, with earlier steps ordered first at ties).
    *
    * Scale shape: sequential pattern matching in ONE shuffle. The
    * textbook formulation is k dependent aggregations (t2 needs t1,
    * t3 needs t2 — each a join back to events); here each reach time is
    * a RUNNING MIN over the same (user_id) x (tus, step, event_id)
    * window, with step k's candidate condition reading step k-1's
    * running column. All k window layers share one partitioning and one
    * sort, so Catalyst plans a single Exchange + Sort followed by k
    * chained WindowExecs and a final same-key aggregation — linear in
    * events at any k, no join back, no per-user explosion.
    *
    * Output: (step_idx, step, n_users) — the classic funnel table.
    *
    * `windowUs` (ev_funnel_windowed) bounds each conversion: step k
    * counts only within windowUs of the user's step-(k-1) reach time —
    * the "converted within the hour" form every growth dashboard
    * reports alongside the unbounded funnel. Semantics are the
    * EARLIEST-CHAIN greedy (each step's reach is the min qualified
    * time given the previous step's reach), matching the oracle's
    * chained min-aggregation form; the plan is unchanged — the bound
    * is one more predicate inside the same window layers.
    */
  def funnel(spark: SparkSession, sfDir: String,
             steps: Seq[String] = Seq("view", "click", "purchase"),
             windowUs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty)
    val sidx = steps.zipWithIndex
      .foldLeft(lit(Int.MaxValue)) { case (acc, (s, i)) =>
        when(col("event_type") === s, lit(i)).otherwise(acc)
      }
    val ev = table(spark, sfDir, "events")
      .filter(col("event_type").isin(steps.map(s => s: Any): _*))
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr(floorDiv("ts", 1000L)).as("tus"))
      .withColumn("sidx", sidx)
    // ties: earlier steps first, so an equal-ts later step sees them
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus").asc, col("sidx").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withReach = steps.zipWithIndex.foldLeft(ev) { case (df, (s, i)) =>
      val inWindow = windowUs
        .map(us => col("tus") <= col(s"c${i - 1}") + lit(us))
        .getOrElse(lit(true))
      val candidate =
        if (i == 0) when(col("event_type") === s, col("tus"))
        else when(col("event_type") === s && col(s"c${i - 1}").isNotNull &&
          inWindow, col("tus"))
      df.withColumn(s"c$i", min(candidate).over(w))
    }
    val perUser = withReach.groupBy("user_id")
      .agg(min(col("c0")).as("t0"),
        steps.indices.drop(1).map(i => min(col(s"c$i")).as(s"t$i")): _*)
    val counts = perUser.agg(
      count(col("t0")).as("n0"),
      steps.indices.drop(1).map(i => count(col(s"t$i")).as(s"n$i")): _*)
    counts.select(explode(array(steps.zipWithIndex.map { case (s, i) =>
        struct(lit(i + 1).cast("long").as("step_idx"), lit(s).as("step"),
          col(s"n$i").as("n_users"))
      }: _*)).as("r"))
      .select(col("r.step_idx"), col("r.step"), col("r.n_users"))
      .orderBy("step_idx")
  }

  /** GROUPED approximate distinct: HLL++ users per event type, gated
    * in-plan against the exact count at ±5% (the grouped member of the
    * sketch-gate family — global HLL: UrlCount.approxDistinctTokens; GK
    * quantiles: TextAnalysis.lengthQuantiles; CMS: cmsHeavyHitters).
    * The exact side exists only as the verification harness; at 100 TB
    * the sketch column runs alone — per-group HLL registers are
    * fixed-size and merge map-side, so a hot event type costs the same
    * shuffle bytes as a cold one, which is the entire point vs the
    * exact distinct's per-group key sets.
    */
  def approxDistinctUsersPerType(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <= col("n_exact") * lit(0.05))
          .as("within_tolerance"))
      .orderBy("event_type")

  /** ev_approx_quantiles: mergeable quantile sketch gated in-plan
    * against the exact disc quantiles — the distribution twin of
    * [[approxDistinctUsersPerType]]. An exact per-group quantile needs
    * a per-group SORT of every value (rank window); the scale path is
    * `percentile_approx` (Greenwald–Khanna-style sketch: fixed-size
    * summaries that merge map-side, rank error <= n/accuracy
    * guaranteed), and this rung runs BOTH, emitting the exact value
    * with an in-plan boolean proving the sketch landed within rank
    * tolerance — the verification a pipeline runs at small scale
    * before trusting the sketch alone at 100 TB.
    *
    * Values go to integral micros first so the exact side is
    * drift-free across engines. The gate is RANK-space, not value
    * space (value distance is meaningless without the local density),
    * and tie-aware: the approx element's true rank is the interval
    * [n_lt+1, n_le] (a hot tied value owns a rank RUN), so the gate
    * checks that interval intersects [r - tol, r + tol] with
    * tol = n div 100 + 1 — 10x the sketch's configured n/1000 bound.
    *
    * Output: (event_type, pct, n, exact_micros, within_tolerance)
    * for pct in {50, 90, 99}, ordered.
    */
  def approxQuantileGate(spark: SparkSession, sfDir: String): DataFrame = {
    val pcts = Seq(50L, 90L, 99L)
    val ev = table(spark, sfDir, "events").filter(col("value").isNotNull)
      .select(col("event_type"),
        floor(col("value") * lit(1000000d)).cast("long").as("vm"))
    val approx = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("vm"),
          array(pcts.map(p => lit(p / 100.0)): _*), lit(1000)).as("qs"))
    val wr = Window.partitionBy("event_type").orderBy(col("vm").asc)
    ev.withColumn("rk", row_number().over(wr))
      .join(broadcast(approx), Seq("event_type"))
      .select(col("event_type"), col("vm"), col("rk"), col("n"),
        posexplode(col("qs")).as(Seq("pi", "a")))
      .withColumn("pct", element_at(typedlit(pcts), col("pi") + 1))
      .withColumn("r", expr("(n * pct + 99) div 100"))
      .groupBy("event_type", "pct")
      .agg(max(col("n")).as("n"),
        min(when(col("rk") === col("r"), col("vm"))).as("exact_micros"),
        sum(when(col("vm") <= col("a"), 1L).otherwise(0L)).as("n_le"),
        sum(when(col("vm") < col("a"), 1L).otherwise(0L)).as("n_lt"),
        max(col("r")).as("r"))
      .select(col("event_type"), col("pct"), col("n"), col("exact_micros"),
        expr("n_le >= r - ((n div 100) + 1) AND n_lt <= r + ((n div 100) + 1)")
          .as("within_tolerance"))
      .orderBy("event_type", "pct")
  }

  /** ev_cusum: CUSUM change-point detection over the daily event
    * volume — the drift alarm behind "did the pipeline's input rate
    * shift" (Page 1954). The textbook statistic is recursive
    * (s_d = max(0, s_{d-1} + dev_d)), which looks like it needs a
    * sequential scan; the closed form used here is the classic
    * rewrite: the positive CUSUM equals the running sum of deviations
    * minus its own running minimum (and the negative CUSUM is the
    * running maximum minus the running sum) — two window functions,
    * no recursion, exact.
    *
    * All integer: deviations are measured in milli-events against the
    * global mean rate mean_milli = (1000 * total) div n_days, and the
    * alarm fires when the positive/negative excursion exceeds
    * `threshDays` x mean_milli (i.e. the cumulative surplus/deficit of
    * `threshDays` average days).
    *
    * Scale shape: ONE aggregation over events to |days| rows (the
    * shuffle key is the fixed-width day bucket; map-side combine does
    * the heavy lifting); the windows — including the two 1-row global
    * totals — run over the bounded |days| relation only, the
    * [[dailyNewUsers]] stance. Output: (day, n_events, cusum_up_milli,
    * cusum_dn_milli, alarm), ordered by day.
    */
  def cusumDailyVolume(spark: SparkSession, sfDir: String,
                       threshDays: Long = 3L): DataFrame = {
    val wAll = Window.partitionBy() // |days| rows post-aggregate only
    val wPre = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, sfDir, "events")
      .select(bucket(86400L).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_events"))
      .withColumn("mean_milli",
        expr("(1000 * sum(n_events) over ()) div (count(1) over ())"))
      .withColumn("dev", col("n_events") * 1000L - col("mean_milli"))
      .withColumn("cum", sum(col("dev")).over(wPre))
      // the virtual empty prefix (cum_0 = 0) participates in the
      // running extrema — least/greatest with 0 — otherwise day 1's
      // own cum would anchor the excursion at zero
      .withColumn("cusum_up_milli",
        col("cum") - least(lit(0L), min(col("cum")).over(wPre)))
      .withColumn("cusum_dn_milli",
        greatest(lit(0L), max(col("cum")).over(wPre)) - col("cum"))
      .withColumn("alarm",
        col("cusum_up_milli") > col("mean_milli") * threshDays ||
        col("cusum_dn_milli") > col("mean_milli") * threshDays)
      .select(col("day"), col("n_events"), col("cusum_up_milli"),
        col("cusum_dn_milli"), col("alarm"))
      .orderBy("day")
  }

  /** Daily new users and the cumulative user count — the growth curve.
    * "Distinct users so far" is NOT computable as a running window over
    * daily distinct counts (users repeat across days); the scalable
    * rewrite is: first-activity day per user (one aggregation over the
    * (user, day) pairs), daily arrivals from that (tiny), then a
    * running sum over the handful of day rows. The heavy shuffle keys
    * on user_id — high cardinality, skew-free — and everything after it
    * is proportional to days, not events.
    */
  def dailyNewUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val firstDay = table(spark, sfDir, "events")
      .select(col("user_id"), bucket(86400L).as("day"))
      .groupBy("user_id").agg(min(col("day")).as("first_day"))
    val daily = firstDay.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("n_new_users"))
    daily.withColumn("n_cumulative_users",
        sum(col("n_new_users")).over(Window.orderBy(col("day").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  /** ev_stickiness: DAU/WAU per day — the engagement ratio every
    * activity dashboard tracks ("what fraction of this week's users
    * showed up today"). The trailing-window DISTINCT is the hard part
    * at scale: a sliding count_distinct window would re-sort every
    * user's history per day. Instead each (day, user) activity row is
    * EXPLODED to the 7 window-end days it supports (bounded x7
    * fanout), the distinct collapses (window_day, user) with map-side
    * partials, and both counts are plain hash aggregations — no
    * window function touches user-level data. The DAU inner join
    * drops synthetic trailing window-ends past the last active day.
    *
    * Output: (day, dau, wau, stickiness_milli = 1000*dau div wau).
    */
  def stickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val du = table(spark, sfDir, "events")
      .select(bucket(86400L).as("day"), col("user_id"))
      .distinct()
    val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = du
      .select(explode(sequence(lit(0L), lit(6L))).as("k"), col("day"), col("user_id"))
      .select((col("day") + col("k") * 86400L).as("day"), col("user_id"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(1000 * dau) div wau").as("stickiness_milli"))
      .orderBy("day")
  }

  /** Retention cohorts: users grouped by first-activity WEEK, counted
    * as retained in each later week they were active — the (cohort,
    * offset) triangle behind every retention dashboard. ONE shuffle on
    * user_id builds each user's week SET (collect_set partials merge
    * map-side, so the shuffle moves exactly the distinct (user, week)
    * pairs — the same bytes as a distinct, without the extra exchange a
    * distinct -> per-user-agg -> join-back chain costs); the cohort is
    * the set's min and the offsets explode in place. State per user is
    * bounded by calendar weeks (a few hundred over years), never by
    * event volume; everything after the explode is O(weeks^2).
    */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .select(col("user_id"), bucket(604800L).as("week"))
      .groupBy("user_id").agg(collect_set(col("week")).as("weeks"))
      .select(explode(col("weeks")).as("week"),
        array_min(col("weeks")).as("cohort_week"))
      .groupBy(col("cohort_week"),
        ((col("week") - col("cohort_week")) / 604800L).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")

  /** ev_cohort_revenue: cohort LIFETIME-VALUE curve — what
    * [[retentionCohorts]] is to activity, this is to money: per
    * (cohort week, week offset), the purchase revenue that cohort's
    * users generated that week and the running cumulative per cohort —
    * the payback-period table acquisition spend is judged against
    * (retention says users came back; LTV says whether they paid for
    * themselves).
    *
    * Scale shape: one user-keyed pass derives each user's cohort (min
    * active week, the retention discipline — the per-user week set is
    * bounded by the corpus's week span) and joins it back broadcast
    * onto the per-(user, week) revenue rollup keyed on user_id; the
    * cumulative window runs over the |cohorts x offsets|-bounded rows
    * only. Output: (cohort_week, week_offset, n_buyers, revenue_milli,
    * cum_revenue_milli), ordered.
    */
  def cohortRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), bucket(604800L).as("week"),
        floor(col("value") * 1000d).cast("long").as("v_milli"))
    val cohorts = ev.groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"))
    val weekly = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "week")
      .agg(count(lit(1)).as("n_purch"), sum(col("v_milli")).as("rev"))
    val w = Window.partitionBy("cohort_week").orderBy("week_offset")
    weekly.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        ((col("week") - col("cohort_week")) / 604800L).cast("long").as("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_buyers"),
        sum(col("rev")).as("revenue_milli"))
      .withColumn("cum_revenue_milli", sum(col("revenue_milli")).over(w))
      .orderBy("cohort_week", "week_offset")
  }

  /** Semi-structured path: parse the `props` JSON string column with a
    * TYPED schema (`from_json` — schema-on-read that stays inside
    * codegen; `get_json_object` re-parses per extraction, and a UDF
    * would leave Tungsten entirely), then aggregate the extracted field
    * per event type. The production notes at 100 TB: declare the fields
    * you need (pruned parse), parse ONCE per row into a struct and
    * reuse, and surface malformed rows as NULLs you count rather than
    * exceptions (here: n_null_props audits parse failures in-plan).
    */
  def propsStats(spark: SparkSession, sfDir: String): DataFrame = {
    val parsed = table(spark, sfDir, "events")
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
    parsed.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_props"),
        sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")
  }

  /** Changelog compaction (last-write-wins): the final per-user state
    * implied by the event stream — the batch form of the streaming
    * running-state query, and the core of every CDC snapshot rebuild.
    * The arg-max rides INSIDE one aggregation as a max(struct) ordered
    * by (ts, event_id): no window, no sort, map-side combinable — the
    * hottest user costs one row per partition in the shuffle, which is
    * why changelog compaction scales where a per-key ORDER BY would
    * not. Value surfaces as exact micros.
    */
  def latestState(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .select(col("user_id"),
        // order on MICROS (the oracle's resolution), not raw nanos — a
        // sub-microsecond difference must not decide a tie differently
        // across engines; equal-micros ties resolve by event_id
        struct(expr(floorDiv("ts", 1000L)).as("tus"), col("event_id"),
          col("event_type"),
          floor(col("value") * 1000000L).cast("long").as("value_micros")).as("s"))
      .groupBy("user_id")
      .agg(max(col("s")).as("w"))
      .select(col("user_id"),
        col("w.tus").as("last_tus"),
        col("w.event_id").as("last_event_id"),
        col("w.event_type").as("last_event_type"),
        col("w.value_micros").as("last_value_micros"))
      .orderBy("user_id")

  /** Burst (debounce) duplicate audit: an event is a burst-duplicate
    * when the same user fired the same event type within `withinSec`
    * of the PREVIOUS event of that key — the double-click/bot-retry
    * cleaning rule every event pipeline runs at ingest. Previous-EVENT
    * semantics (plain lag — one shuffle on the key, oracle-exact), not
    * previous-KEPT: the chained form is a sequential state machine
    * (streaming: dropDuplicatesWithinWatermark covers it); for audit
    * rates the two differ only inside dense bursts. Output: per-type
    * totals with exact milli duplicate rates.
    */
  def burstDuplicates(spark: SparkSession, sfDir: String,
                      withinSec: Long = 60): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("tus").asc, col("event_id").asc)
    table(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr(floorDiv("ts", 1000L)).as("tus"))
      .withColumn("prev", lag(col("tus"), 1).over(w))
      .withColumn("is_dup",
        col("prev").isNotNull && col("tus") - col("prev") <= withinSec * 1000000L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_duplicates"))
      .withColumn("dup_milli",
        (col("n_duplicates") * 1000L / col("n_events")).cast("long"))
      .orderBy("event_type")
  }

  /** Trailing moving average of daily event volume per type — the
    * bounded-frame window family member (ROWS BETWEEN k PRECEDING AND
    * CURRENT ROW; the running aggregates elsewhere use the unbounded
    * frame). Average is over the last up-to-`win` OBSERVED daily
    * buckets (on a sparse calendar that is fewer than `win` calendar
    * days — the audit convention for volume smoothing), emitted as
    * integral milli so it hash-matches. Plan: one day+type aggregation
    * collapses the corpus to |days|x|types| rows; the window runs on
    * that tiny relation.
    */
  def movingAverage(spark: SparkSession, sfDir: String, win: Int = 7): DataFrame = {
    val daily = table(spark, sfDir, "events")
      .withColumn("day", bucket(86400L))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(-(win - 1), Window.currentRow)
    daily
      .withColumn("win_sum", sum(col("n")).over(w))
      .withColumn("win_cnt", count(lit(1)).over(w))
      .select(col("day"), col("event_type"), col("n"),
        expr("(1000 * win_sum) div win_cnt").as("avg_milli"))
      .orderBy("event_type", "day")
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: for every (prev_type -> next_type) pair, the transition
    * count and its per-million rate within the prev_type row — the
    * behavioral model behind next-action prediction, funnel-shape
    * discovery and bot detection (a scripted client's transition rows
    * are near-deterministic; organic traffic is spread).
    *
    * Sequence order is (event time, event_id) within user — the same
    * total order every sequential op here uses. Plan: ONE full-data
    * shuffle (the per-user sort for lag), then the pair counts collapse
    * to |types|^2 rows, so the row-rate window and the final sort are
    * driver-trivial at any corpus size. Rates are integral ppm (floor),
    * so rows hash-match the oracle exactly.
    */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus").asc, col("event_id").asc)
    table(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr(floorDiv("ts", 1000L)).as("tus"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy("prev_type")))
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("(1000000 * n) div row_total").as("rate_ppm"))
      .orderBy("prev_type", "next_type")
  }

  /** Daily top event types: window rank over tumbling day buckets. */
  /** ev_range_frame: per-event trailing one-hour activity — for every
    * event, how many events the SAME user fired of the SAME type in
    * [t-3599, t] seconds (burst/rate-limit audit). RANGE (value-based)
    * framing, not ROWS: all rows at equal tsec are in-frame regardless
    * of physical order, so ties need no id tie-break to be
    * deterministic. Partitioned by (user_id, event_type) — high
    * cardinality, skew-free; the frame evaluates in one pass over each
    * sorted partition, never a time-range self-join.
    */
  def rangeFrameCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("tsec")
      .rangeBetween(-3599, Window.currentRow)
    table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), tsec.as("tsec"))
      .withColumn("n_user_hour", count(lit(1)).over(w))
      .orderBy("event_id")
  }

  /** ev_lateness: event-time disorder audit — THE input to choosing a
    * watermark delay. For each event, disorder = how far its event time
    * lags the maximum event time already seen in the same user's
    * arrival order (arrival = event_id order, the ingest sequence);
    * the histogram's tail share at each bound is exactly the fraction
    * of events a watermark of that delay would drop as late. Every
    * withWatermark in the streaming twins encodes a guess about this
    * distribution; this query measures it.
    *
    * Scale shape: one user-keyed shuffle; the running max is a
    * cumulative window WITHIN each user partition (no cross-user
    * state), then a 6-bucket map-side-combinable histogram and a
    * 6-row share window. Output: (bucket, n_events, max_disorder_s,
    * share_milli), bucket bounds 0 / 60 / 300 / 900 / 3600 s, ordered.
    */
  def latenessAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), tsec.as("tsec"))
      .withColumn("disorder_s",
        greatest(lit(0L), coalesce(max(col("tsec")).over(w) - col("tsec"), lit(0L))))
    val wAll = Window.partitionBy() // <= 6 rows post-aggregate
    scored
      .withColumn("bucket",
        when(col("disorder_s") === 0, 0L)
          .when(col("disorder_s") <= 60, 1L)
          .when(col("disorder_s") <= 300, 2L)
          .when(col("disorder_s") <= 900, 3L)
          .when(col("disorder_s") <= 3600, 4L)
          .otherwise(5L))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_events"), max(col("disorder_s")).as("max_disorder_s"))
      .withColumn("total", sum(col("n_events")).over(wAll))
      .withColumn("share_milli", expr("(1000 * n_events) div total"))
      .select(col("bucket"), col("n_events"), col("max_disorder_s"), col("share_milli"))
      .orderBy("bucket")
  }

  /** ev_daily_top_agg: the rank-per-group-keep-k relation re-expressed
    * with the custom TopKTagAgg aggregate instead of a window. The
    * window form exchanges every (day, type) row and SORTS each day
    * partition; this form keeps a k-entry buffer per day that combines
    * map-side, so the shuffle carries k rows per day and no sort runs
    * anywhere. Row-for-row equal to dailyTopTypes (same total order:
    * n desc, type asc) — it shares the window twin's oracle, and
    * EventWindowsSpec pins the equality directly.
    */
  def dailyTopTypesAgg(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val day = table(spark, sfDir, "events")
      .withColumn("day", bucket(86400L))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"))
    day.groupBy("day")
      .agg(graft.functions.TopKSketch.topK(col("n"), col("event_type"), k).as("top"))
      .select(col("day"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("day"), col("t.tag").as("event_type"), col("t.n").as("n"),
        (col("i") + 1).cast("long").as("rk"))
      .orderBy("day", "rk")
  }

  def dailyTopTypes(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val day = table(spark, sfDir, "events")
      .withColumn("day", bucket(86400L))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("day").orderBy(col("n").desc, col("event_type").asc)
    day.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("day"), col("event_type"), col("n"),
        col("rk").cast("long").as("rk")) // BIGINT: DuckDB row_number() is BIGINT
      .orderBy("day", "rk")
  }

  /** ev_outliers: per-type top-percentile trim audit — flag the top 1%
    * of events by value (rank-based winsorization: the heavy-tail trim
    * a metrics pipeline runs before averaging, with NO distributional
    * assumption — no mean/sigma float math to drift cross-engine).
    * Exact integer everywhere: values in millis, the cut count is
    * n div 100, ties broken by event_id so the trimmed set is total.
    *
    * The rank window sorts each type's partition — fine at the
    * harness's type cardinality; at 100 TB the same audit runs off a
    * GK quantile-sketch threshold (the text_len_quantiles pattern:
    * sketch picks the cut value, a narrow filter applies it) and this
    * exact form remains the verifier on samples.
    *
    * Output: (event_type, n_events, n_outliers, cut_value_milli,
    * max_value_milli, outlier_sum_milli).
    */
  def outlierTrimAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("v_milli").desc, col("event_id").asc)
    val wn = Window.partitionBy("event_type")
    table(spark, sfDir, "events")
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 1000d).cast("long").as("v_milli"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_events", count(lit(1)).over(wn))
      .filter(col("rk") <= expr("n_events div 100"))
      .groupBy("event_type")
      .agg(max(col("n_events")).as("n_events"),
        count(lit(1)).as("n_outliers"),
        min(col("v_milli")).as("cut_value_milli"),
        max(col("v_milli")).as("max_value_milli"),
        sum(col("v_milli")).as("outlier_sum_milli"))
      .orderBy("event_type")
  }

  /** ev_mad_outliers: ROBUST outlier flagging by modified z-score
    * (Iglewicz & Hoaglin 1993): flag x where
    * |0.6745·(x − median) / MAD| > 3.5, with MAD the median absolute
    * deviation. [[outlierTrimAudit]] trims a fixed top fraction — fine
    * for budget capping, but a stddev/fraction rule is itself dragged
    * by the outliers it hunts; median/MAD break down only past 50%
    * contamination. All-integer cross-engine math: medians are carried
    * DOUBLED (2·median of longs is exactly integral even when the
    * interpolated median lands on .5), deviations dev2 = |2x − med2|
    * and mad4 = 2·median(dev2) stay integers, and the flag rule
    * multiplies out to 13490·dev2 > 35000·mad4 — no float division
    * anywhere near the comparison.
    *
    * Scale shape: two aggregations over the bounded event-type
    * dimension (each a per-group exact percentile — the same per-group
    * sort cost the trim audit's rank already pays; a production run
    * swaps in approx_percentile with the in-plan gate pattern
    * text_len_quantiles demonstrates), each joined back broadcast.
    * Per-row flagging is a narrow projection.
    *
    * Output per event_type: n_events, med2 (doubled median milli),
    * mad4 (quadrupled MAD milli), n_flagged, max_mz_milli (largest
    * modified z-score in milli; null when MAD = 0).
    */
  /** ev_bot_audit: automation detection by inter-arrival REGULARITY —
    * humans are bursty, schedulers are metronomes: a user whose
    * event-gap variance sits near zero over enough events is a cron
    * job, scraper or replay, the traffic every analytics table above
    * wants excluded. Per user with >= `minEvents`: gap count, mean gap,
    * gap variance via the exact (n*ss - s^2) div n^2 identity in
    * DECIMAL(38,0) (microsecond gaps square past BIGINT), and the bot
    * flag (variance below `tauSec2` seconds^2, scaled). Gaps come from
    * one lag window over the user's own events — the rel_order_gaps
    * cadence shape on the event stream.
    *
    * Output: (user_id, n_gaps, mean_gap_sec, var_gap_sec2, bot),
    * ordered by user_id.
    */
  def botAudit(spark: SparkSession, sfDir: String, minEvents: Int = 10,
               tauSec2: Long = 3600L): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus").asc, col("event_id").asc)
    table(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        expr(floorDiv("ts", 1000L)).as("tus"))
      .withColumn("gap", col("tus") - lag(col("tus"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap").cast("decimal(38,0)")).as("s"),
        sum(expr("cast(gap as decimal(38,0)) * gap")).as("ss"))
      .filter(col("n_gaps") >= (minEvents - 1).toLong)
      // the us^2 variance itself exceeds BIGINT (~3e21 on this corpus),
      // so the s^2 downscale folds into ONE decimal division — `div`'s
      // LongType result is only materialized at seconds^2 scale
      // (floor(floor(x/a)/b) == floor(x/(a*b)) for non-negative x, and
      // the numerator is Cauchy-Schwarz non-negative)
      .withColumn("var_gap_sec2",
        expr("""(n_gaps * ss - s * s)
                div (cast(n_gaps as decimal(38,0)) * n_gaps * 1000000000000)"""))
      .select(col("user_id"), col("n_gaps"),
        expr("(s div n_gaps) div 1000000").as("mean_gap_sec"),
        col("var_gap_sec2"))
      .withColumn("bot", col("var_gap_sec2") < tauSec2)
      .orderBy("user_id")
  }

  /** ev_attribution_linear: LINEAR multi-touch attribution — each
    * purchase's value splits EQUALLY across the user's view/click
    * touches within the lookback window, the fairness middle ground
    * between last-touch ([[asOfAttribution]]'s shape) and first-touch.
    * The split is exact and value-CONSERVING in integers: every touch
    * gets value div n, and the remainder goes one milli at a time to
    * the EARLIEST touches ((ts, event_id) order) — sum of shares
    * reconstructs the purchase value exactly, so channel totals add up
    * to total attributed revenue by construction. Purchases with no
    * in-window touch credit a 'direct' channel.
    *
    * Scale shape (rewritten for adversarial per-user density, VERDICT
    * r11 #5): the naive form materializes every (purchase, touch)
    * candidate pair — quadratic in a hot user's event density (the
    * 50%-hot-user skew bench measured it 5.2x). But the output only
    * needs PER-CHANNEL aggregates, and with two channels each
    * purchase's contribution is a pure function of FOUR per-user
    * prefix sums: the touch count and cumulative view count at the
    * window's two ends. So: union two probe rows per purchase into
    * the touch stream and run ONE per-user ordered window computing
    * the running (touch index, view count) — touches count
    * themselves, probes contribute zero, so each probe row reads its
    * as-of prefix directly — then fetch the remainder split — how
    * many of the window's earliest
    * `v mod n` touches are views — with ONE (user, idx) equi-join
    * back into the indexed touches. Work is O(events) join/window
    * rows; the hot user costs one linear sort, never P x T pairs.
    * [[linearAttributionPairwise]] keeps the direct pairwise form,
    * and EventWindowsSpec pins the two identical on the harness
    * corpus AND a hot-user corpus.
    *
    * Output: (channel, n_touches, attributed_milli), ordered by
    * channel; n_touches counts (purchase, touch) pairs, exactly as
    * the pairwise form does.
    */
  def linearAttribution(spark: SparkSession, sfDir: String,
                        lookbackSec: Long = 604800L): DataFrame = {
    val lUs = lookbackSec * 1000000L
    val ev = table(spark, sfDir, "events")
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("u"), col("event_type").as("channel"),
        col("event_id").as("t_id"), expr(floorDiv("ts", 1000L)).as("t"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("u"),
        expr(floorDiv("ts", 1000L)).as("p_tus"),
        floor(col("value") * 1000d).cast("long").as("v_milli"))
    // two as-of probes per purchase: window end (inclusive at p_tus) and
    // window start (touches with t < p_tus - lookback are OUTSIDE, so the
    // probe sits at p_tus - lUs - 1; timestamps are integer micros)
    val probes = purchases.select(col("u"), col("p_id"),
        explode(array(
          struct(lit("a").as("tag"), col("p_tus").as("t")),
          struct(lit("b").as("tag"), (col("p_tus") - lUs - 1L).as("t")))).as("pr"))
      .select(col("u"), col("p_id"), col("pr.tag").as("tag"), col("pr.t").as("t"))
    // ONE per-user ordered window computes everything: union probes into
    // the touch stream (at equal t, touches sort FIRST via isp asc, so an
    // end-probe at a touch's own timestamp includes it) and run the two
    // prefix sums — touches count themselves, probes contribute 0, so a
    // probe row reads the as-of (touch index, cumulative views) directly
    val stream = touches
      .select(col("u"), col("t"), lit(0).as("isp"), col("t_id").as("tie"),
        when(col("channel") === "view", 1L).otherwise(0L).as("isv"),
        lit(null).cast("long").as("p_id"), lit(null).cast("string").as("tag"))
      .unionByName(probes.select(col("u"), col("t"), lit(1).as("isp"),
        col("p_id").as("tie"), lit(0L).as("isv"), col("p_id"), col("tag")))
    val wAsof = Window.partitionBy("u")
      .orderBy(col("t").asc, col("isp").asc, col("tie").asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = stream
      .withColumn("idx", sum(lit(1) - col("isp")).over(wAsof))
      .withColumn("cv", sum(col("isv")).over(wAsof))
      .materialized // feeds the probe pivot AND the remainder join
    val perP = st.filter(col("isp") === 1).groupBy("p_id").agg(
        max(when(col("tag") === "a", col("idx"))).as("ia"),
        max(when(col("tag") === "a", col("cv"))).as("cva"),
        max(when(col("tag") === "b", col("idx"))).as("ib"),
        max(when(col("tag") === "b", col("cv"))).as("cvb"))
      .join(purchases.select("p_id", "u", "v_milli"), Seq("p_id"))
      .withColumn("n", col("ia") - col("ib"))
    // remainder split: among the window's first (v mod n) touches, the
    // view count is cv at touch index ib + (v mod n), minus cv at ib —
    // one equi-join on (user, index), r == 0 rows need no lookup
    val tIdx = st.filter(col("isp") === 0).select(col("u"), col("idx"), col("cv"))
    // pmod, not %: a negative purchase value (a refund row) would make
    // the % remainder negative — the r>0 filter then skips the lookup,
    // r_view coalesces to 0, and the negative remainder folds entirely
    // into clicks, diverging from the pairwise form (ADVICE r12). With
    // pmod r is always in [0, n) and base is the matching FLOOR quotient
    // ((v - pmod) is exactly divisible, so integer div is exact), so
    // n*base + r == v_milli conserves value for any sign and the two
    // forms stay identical.
    val withR = perP.filter(col("n") > 0)
      .withColumn("r", pmod(col("v_milli"), col("n")))
    val cvAtR = withR.filter(col("r") > 0)
      .join(tIdx.select(col("u"), col("idx"), col("cv").as("cv_r")),
        withR("u") === tIdx("u") && col("idx") === col("ib") + col("r"))
      .select(withR("p_id"), col("cv_r"))
    val shares = withR.join(cvAtR, Seq("p_id"), "left")
      .withColumn("r_view", coalesce(col("cv_r"), col("cvb")) - col("cvb"))
      .withColumn("base", expr("(v_milli - pmod(v_milli, n)) div n"))
      .select(col("p_id"),
        (col("cva") - col("cvb")).as("n_v"),
        (col("n") - (col("cva") - col("cvb"))).as("n_c"),
        ((col("cva") - col("cvb")) * col("base") + col("r_view")).as("att_v"),
        ((col("n") - (col("cva") - col("cvb"))) * col("base") +
          (col("r") - col("r_view"))).as("att_c"))
    val tot = shares.agg(
      sum(col("n_v")).as("nt_v"), sum(col("att_v")).as("at_v"),
      sum(col("n_c")).as("nt_c"), sum(col("att_c")).as("at_c"))
    val channelRows = tot.select(explode(array(
        struct(lit("view").as("channel"), col("nt_v").as("n_touches"),
          col("at_v").as("attributed_milli")),
        struct(lit("click").as("channel"), col("nt_c").as("n_touches"),
          col("at_c").as("attributed_milli")))).as("c"))
      .select(col("c.channel"), col("c.n_touches"), col("c.attributed_milli"))
      .filter(col("n_touches") > 0) // a channel with no pairs emits no row
    val directRow = perP.filter(col("n") === 0)
      .agg(count(lit(1)).as("n_touches"), sum(col("v_milli")).as("attributed_milli"))
      .select(lit("direct").as("channel"), col("n_touches"),
        coalesce(col("attributed_milli"), lit(0L)).as("attributed_milli"))
    channelRows.unionByName(directRow).orderBy("channel")
  }

  /** The direct pairwise form of [[linearAttribution]] — every
    * (purchase, in-window touch) candidate materialized via the
    * [[intervalJoin]] bucketing discipline, shares ranked per purchase.
    * Quadratic in per-user event density, so the REGISTERED query uses
    * the prefix-sum rewrite above; this form is kept as the executable
    * statement of the semantics and EventWindowsSpec pins the two
    * identical (harness corpus + a hot-user adversarial corpus).
    */
  private[graft] def linearAttributionPairwise(
      spark: SparkSession, sfDir: String,
      lookbackSec: Long = 604800L): DataFrame = {
    val lUs = lookbackSec * 1000000L
    val ev = table(spark, sfDir, "events")
    def toBucket(tusCol: String): String =
      s"(($tusCol - pmod($tusCol, ${lUs}L)) div ${lUs}L)"
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), col("event_type").as("channel"),
        col("event_id").as("t_id"), expr(floorDiv("ts", 1000L)).as("t_tus"))
      .withColumn("bucket", expr(toBucket("t_tus")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        expr(floorDiv("ts", 1000L)).as("p_tus"),
        floor(col("value") * 1000d).cast("long").as("v_milli"))
    val pReplicated = purchases
      .withColumn("b0", expr(toBucket("p_tus")))
      .withColumn("bucket", explode(array(col("b0") - 1, col("b0"))))
      .drop("b0")
    val cand = pReplicated.join(touches,
      pReplicated("user_id") === touches("t_user") &&
        pReplicated("bucket") === touches("bucket") &&
        touches("t_tus") >= pReplicated("p_tus") - lUs &&
        touches("t_tus") <= pReplicated("p_tus"))
    val wr = Window.partitionBy("p_id").orderBy(col("t_tus").asc, col("t_id").asc)
    val shares = cand
      .withColumn("rk", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("p_id")))
      .select(col("channel"),
        // floor-quotient + pmod remainder, matching linearAttribution's
        // rewrite: for v >= 0 identical to div/%, for refund rows the two
        // forms stay value-conserving and identical (ADVICE r12)
        (expr("(v_milli - pmod(v_milli, n)) div n") +
          when(col("rk") <= expr("pmod(v_milli, n)"), 1L).otherwise(0L)).as("share"))
    val attributed = shares.groupBy("channel")
      .agg(count(lit(1)).as("n_touches"), sum(col("share")).as("attributed_milli"))
    // 'direct' = purchases whose window held no touch: anti join on p_id
    val touched = cand.select(col("p_id")).distinct()
    val directRow = purchases.join(touched, Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_touches"), sum(col("v_milli")).as("attributed_milli"))
      .select(lit("direct").as("channel"), col("n_touches"),
        coalesce(col("attributed_milli"), lit(0L)).as("attributed_milli"))
    attributed.unionByName(directRow).orderBy("channel")
  }

  /** ev_rfm: recency / frequency / monetary feature build — the
    * feature-engineering stage churn and LTV models actually train on,
    * and the canonical "turn a raw event stream into a per-entity
    * feature vector" shape: recency = days since the user's last
    * activity measured against the CORPUS max day (broadcast 1-row —
    * wall-clock "today" would make the result non-replayable),
    * frequency = event count, monetary = summed purchase value in
    * millis, plus the standard churn label (no activity in the last
    * `churnDays`). One user-keyed rollup computes all four; nothing
    * else touches the facts.
    *
    * Output: (user_id, recency_days, frequency, monetary_milli,
    * churned), ordered by user_id.
    */
  def rfmFeatures(spark: SparkSession, sfDir: String,
                  churnDays: Int = 90): DataFrame = {
    val ev = table(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        expr("(ts div 1000000000) div 86400").as("day"),
        floor(col("value") * 1000d).cast("long").as("v_milli"))
    val maxDay = ev.agg(max(col("day")).as("corpus_max_day"))
    ev.groupBy("user_id")
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(when(col("event_type") === "purchase", col("v_milli"))
          .otherwise(0L)).as("monetary_milli"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        (col("corpus_max_day") - col("last_day")).as("recency_days"),
        col("frequency"), col("monetary_milli"),
        (col("corpus_max_day") - col("last_day") > churnDays.toLong).as("churned"))
      .orderBy("user_id")
  }

  /** ev_conversion_latency: time-to-convert distribution — per user
    * who both viewed and purchased, the latency from FIRST view to the
    * first purchase AT-OR-AFTER it, rolled into exact rank-based
    * percentiles (p50/p90/p99 via the ev_outliers integer cut — no
    * interpolation, so any engine replays it) plus the never-converted
    * count. The product-analytics companion to the funnel: the funnel
    * says HOW MANY make it through, this says HOW LONG the edge takes
    * — the number that prices attribution windows and cache TTLs.
    *
    * Scale shape: one user-keyed rollup computes both first-view and
    * first-purchase-after-view (conditional min over the same pass, no
    * self-join), then the percentile cut works on the CUMULATIVE
    * DISTRIBUTION over DISTINCT latency values: group latencies to
    * (value, count) — parallel, collapses ties — and prefix-sum the
    * counts with the shard_plan two-level split (per-bucket window
    * parallel across value-range buckets; the single-partition window
    * runs only over the tiny bucket-subtotal relation). The value at
    * rank ceil(q*n/100) is then min(value | cum*100 >= n*q) — a plain
    * map-side-combinable conditional-min aggregate. No RDD conversion,
    * no partitionless window, no corpus-sized single task; the whole
    * query stays in Tungsten codegen. The count rides in as a broadcast
    * 1-row aggregate. Output: 1 row (n_viewers, n_converted, p50_sec,
    * p90_sec, p99_sec).
    */
  def conversionLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        expr(s"ts div 1000000000").as("tsec"))
    val perUser = ev
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("tsec"))).as("first_view"))
    // checkpointed: the distribution rollup and the count aggregate
    // both re-read this rollup otherwise
    val lat = ev.filter(col("event_type") === "purchase")
      .join(perUser.filter(col("first_view").isNotNull), Seq("user_id"))
      .filter(col("tsec") >= col("first_view"))
      .groupBy("user_id", "first_view")
      .agg(min(col("tsec")).as("first_purch"))
      .select(col("user_id"), (col("first_purch") - col("first_view")).as("lat_sec"))
      .materialized
    val cnt = lat.groupBy("lat_sec").agg(count(lit(1)).as("c"))
      .withColumn("bucket", expr("lat_sec div 1024"))
    val withinW = Window.partitionBy("bucket").orderBy("lat_sec")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsetW = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cnt.groupBy("bucket").agg(sum(col("c")).as("bucket_count"))
      .withColumn("bucket_offset",
        coalesce(sum(col("bucket_count")).over(offsetW), lit(0L)))
      .select("bucket", "bucket_offset")
    val ranked = cnt
      .withColumn("cum_in", sum(col("c")).over(withinW))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum", col("bucket_offset") + col("cum_in"))
      .crossJoin(broadcast(lat.agg(count(lit(1)).as("n_conv"))))
    def pct(p: Int): Column =
      min(when(col("cum") * 100L >= col("n_conv") * p, col("lat_sec")))
    val viewers = perUser.filter(col("first_view").isNotNull)
      .agg(count(lit(1)).as("n_viewers"))
    // the output row derives from the viewers aggregate (1 row always),
    // with the percentile row LEFT-joined on; an empty latency frame
    // aggregates to one all-NULL row, so a corpus where nobody converts
    // still emits (n_viewers, 0, NULL, NULL, NULL) exactly like the
    // oracle's scalar-subquery form
    val pctRow = ranked
      .agg(max(col("n_conv")).as("n_conv"), pct(50).as("p50_sec"),
        pct(90).as("p90_sec"), pct(99).as("p99_sec"))
    viewers.join(pctRow, lit(true), "left")
      .select(col("n_viewers"),
        coalesce(col("n_conv"), lit(0L)).as("n_converted"),
        col("p50_sec"), col("p90_sec"), col("p99_sec"))
  }

  /** ev_ab_lift: A/B experiment readout — the analytics workload every
    * event pipeline grows into: users deterministically split into
    * control/treatment by an md5 coin on user_id (the
    * pipeline_mix_sample assignment discipline — reproducible, no
    * stored assignment table), per-arm metric = mean purchase VALUE
    * per user in millis (binary conversion saturates on this corpus —
    * every user purchases — and a value metric is what revenue
    * experiments read anyway), and the treatment-minus-control
    * difference with a Poisson-bootstrap 90% CI over USERS (the
    * corpus_bootstrap one-pass recipe: replicate 0 carries weight 1
    * everywhere and IS the point estimate; resampling units are users
    * because users, not events, are independent).
    *
    * Scale shape: one user-keyed conversion rollup, one (B+1)-way
    * explode over the |users| rows (NOT the events), per-(replicate,
    * arm) map-side-combinable sums, then all CI math over the bounded
    * B+1-row table. Output: 1 row (n_control, n_treat,
    * conv_control_milli, conv_treat_milli, diff_milli, ci_lo_milli,
    * ci_hi_milli, n_resamples).
    */
  /** Per-user experiment frame shared by [[abLift]] and [[abPower]]:
    * (user_id, conv = summed purchase value in millis, arm). */
  private def abPerUser(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
        floor(col("value") * 1000d).cast("long")).otherwise(0L)).as("conv"))
      .withColumn("arm", graft.functions.OracleHash.h60(
        concat(lit("ab:"), col("user_id").cast("string"))) % 2L)

  def abLift(spark: SparkSession, sfDir: String, b: Int = 32): DataFrame = {
    val perUser = abPerUser(spark, sfDir)
    val u = graft.functions.OracleHash.h60(
      concat(lit("abboot:"), col("b").cast("string"), lit(":"),
        col("user_id").cast("string"))) % 1000000L
    val wPois = when(u < 367879L, 0L).when(u < 735759L, 1L)
      .when(u < 919699L, 2L).when(u < 981012L, 3L)
      .when(u < 996340L, 4L).otherwise(5L)
    val byB = perUser
      .withColumn("b", explode(sequence(lit(0L), lit(b.toLong))))
      .withColumn("w", when(col("b") === 0L, 1L).otherwise(wPois))
      .groupBy("b", "arm")
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("conv")).as("conv_eff"))
      .filter(col("n_eff") > 0L)
      .withColumn("mean_milli", expr("conv_eff div n_eff"))
      .groupBy("b")
      .agg(max(when(col("arm") === 0L, col("n_eff"))).as("n_c"),
        max(when(col("arm") === 0L, col("mean_milli"))).as("cv_c"),
        max(when(col("arm") === 1L, col("n_eff"))).as("n_t"),
        max(when(col("arm") === 1L, col("mean_milli"))).as("cv_t"))
      .filter(col("n_c").isNotNull && col("n_t").isNotNull)
      .withColumn("diff_milli", col("cv_t") - col("cv_c"))
    val loRank = math.max(1, math.ceil(0.05 * b).toInt)
    val hiRank = math.max(1, math.ceil(0.95 * b).toInt)
    val wAll = Window.partitionBy() // B+1 rows only
    byB
      .withColumn("rk", row_number().over(Window.orderBy(
        when(col("b") === 0L, 1).otherwise(0).asc,
        col("diff_milli").asc, col("b").asc)))
      // the b=0 point estimate always sorts LAST, so replicate ranks
      // match a replicates-only ranking — but if >= 2 replicates drop
      // (an arm with zero Poisson weight) the point estimate itself can
      // land on hiRank; the b != 0 guard makes that case yield NULL
      // bounds exactly like the oracle's replicates-only rank
      .withColumn("lo", max(when(col("rk") === loRank && col("b") =!= 0L,
        col("diff_milli"))).over(wAll))
      .withColumn("hi", max(when(col("rk") === hiRank && col("b") =!= 0L,
        col("diff_milli"))).over(wAll))
      .filter(col("b") === 0L)
      .select(col("n_c").as("n_control"), col("n_t").as("n_treat"),
        col("cv_c").as("mean_control_milli"), col("cv_t").as("mean_treat_milli"),
        col("diff_milli"), col("lo").as("ci_lo_milli"), col("hi").as("ci_hi_milli"),
        lit(b.toLong).as("n_resamples"))
  }

  /** ev_ab_power: minimal-detectable-effect readout for the
    * [[abLift]] experiment — the question asked BEFORE reading the
    * lift: at these arm sizes and this variance, what's the smallest
    * true effect this test could even see (alpha 0.05, power 80%:
    * mde = 2.80 * sqrt(var_pooled * (1/n_c + 1/n_t)))? Everything
    * stays exact-integer by carrying the SQUARE: mde2_milli2 =
    * (784 * var_pooled * (n_c + n_t)) div (100 * n_c * n_t), per-arm
    * variance via the (n*ss - s^2) div n^2 identity in DECIMAL(38,0)
    * (milli values square to 1e12 per user), pooled with (n-1)
    * weights. The final row also judges the observed lift against it:
    * detectable = diff^2 >= mde2 — underpowered experiments read as
    * noise, which is the report's whole point.
    *
    * Scale shape: one user rollup, one 2-row per-arm aggregate, all
    * math on those rows. Output: 1 row (n_control, n_treat,
    * var_pooled_milli2, mde2_milli2, diff_milli, detectable).
    */
  def abPower(spark: SparkSession, sfDir: String): DataFrame = {
    val arms = abPerUser(spark, sfDir)
      .groupBy("arm")
      .agg(count(lit(1)).as("n"),
        sum(col("conv").cast("decimal(38,0)")).as("s"),
        sum(expr("cast(conv as decimal(38,0)) * conv")).as("ss"))
      .withColumn("v", expr("(n * ss - s * s) div (cast(n as decimal(38,0)) * n)"))
      .withColumn("mean", expr("s div n"))
    arms.agg(
        max(when(col("arm") === 0L, col("n"))).as("n_c"),
        max(when(col("arm") === 1L, col("n"))).as("n_t"),
        max(when(col("arm") === 0L, col("v"))).as("v_c"),
        max(when(col("arm") === 1L, col("v"))).as("v_t"),
        max(when(col("arm") === 0L, col("mean"))).as("m_c"),
        max(when(col("arm") === 1L, col("mean"))).as("m_t"))
      .withColumn("var_pooled_milli2",
        expr("((n_c - 1) * v_c + (n_t - 1) * v_t) div (n_c + n_t - 2)"))
      .withColumn("mde2_milli2",
        expr("""(784 * cast(var_pooled_milli2 as decimal(38,0)) * (n_c + n_t))
                div (100 * cast(n_c as decimal(38,0)) * n_t)"""))
      .withColumn("diff_milli", col("m_t") - col("m_c"))
      .select(col("n_c").as("n_control"), col("n_t").as("n_treat"),
        col("var_pooled_milli2"), col("mde2_milli2"), col("diff_milli"),
        (col("diff_milli") * col("diff_milli") >= col("mde2_milli2")).as("detectable"))
  }

  /** Per-(event_type, hour-of-day) baseline table for the seasonal
    * anomaly family: the %10!=0 train split's event count and floored
    * mean value in millis (the text_lm_holdout split discipline). At
    * most |types| x 24 rows — always broadcastable, which is the whole
    * design: a seasonal profile must ship to the scorer, not be joined
    * fact-to-fact. Values are non-negative in this domain, so the
    * BIGINT div mean is engine-identical (no negative-floor divergence).
    */
  /** Hour-of-day from either ts encoding: the batch `table` helper
    * normalizes ts to BIGINT epoch-nanos, the streaming harness keeps a
    * TIMESTAMP — hour() on a UTC-pinned session equals the integer form
    * exactly (epoch is positive, so plain div floors).
    */
  private def hourOfDay(df: DataFrame): Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("((ts div 1000000000) div 3600) % 24").cast("long")
      case _ => hour(col("ts")).cast("long")
    }

  // served from the run-lifetime store (the dsirRatioTable
  // discipline): the bounded baseline is one full events pass and BOTH
  // the batch audit (ev_seasonal) and the ingest scorer's driver pull
  // (stream_seasonal) need the SAME <= |types| x 24-row frame — without
  // the store each invocation re-paid the train-split aggregation.
  private val seasonalBaselineStores =
    graft.ArtifactStore.frames("ev.seasonalBaseline")
  private[graft] def seasonalBaseline(spark: SparkSession, sfDir: String): DataFrame =
    seasonalBaselineStores.getOrBuild(spark, sfDir, Seq("events")) {
      val ev = table(spark, sfDir, "events")
      ev.filter(col("event_id") % 10 =!= 0)
        .select(col("event_type"), hourOfDay(ev).as("hod"),
          floor(col("value") * 1000d).cast("long").as("v_milli"))
        .groupBy("event_type", "hod")
        .agg(count(lit(1)).as("n_train"),
          expr("sum(v_milli) div count(1)").as("baseline_milli"))
        .materialized
    }

  /** Score frame shared by the batch audit and the streaming twin:
    * held-out (%10==0) events joined to the broadcast baseline on
    * (type, hour), alert = value above 2x the bucket's seasonal mean.
    * Inner join by design: a bucket absent from training has no
    * baseline to score against (production falls back to a type-global
    * mean; the absence is visible in the audit's left join).
    */
  private[graft] def seasonalScoreFrame(ev: DataFrame, baseline: DataFrame): DataFrame =
    ev.filter(col("event_id") % 10 === 0)
      .select(col("event_id"), col("event_type"),
        hourOfDay(ev).as("hod"),
        floor(col("value") * 1000d).cast("long").as("v_milli"))
      .join(broadcast(baseline.select("event_type", "hod", "baseline_milli")),
        Seq("event_type", "hod"))
      .select(col("event_id"), col("event_type"), col("hod"), col("v_milli"),
        col("baseline_milli"),
        (col("baseline_milli") > 0L &&
          col("v_milli") > col("baseline_milli") * 2L).as("alert"))

  /** ev_seasonal: seasonality-conditioned anomaly audit — the detector
    * CUSUM ([[cusumAlarm]]) and MAD ([[madOutliers]]) cannot be: both
    * treat a type's values as one population, so a metric with a daily
    * rhythm (traffic peaks every evening) either drowns alerts in
    * expected peaks or misses a midnight spike that would be normal at
    * noon. Conditioning the baseline on hour-of-day is the standard
    * first seasonal correction. Train/score on the deterministic
    * held-out split, roll up per bucket.
    *
    * Scale shape: one fact pass builds the bounded (|types| x 24)
    * baseline, a second scores the held-out split against it BROADCAST
    * — no fact-to-fact join, rollup map-side combinable. Output:
    * (event_type, hod, n_train, baseline_milli, n_eval, n_alerts),
    * ordered; eval counts 0 where the eval split never hit the bucket.
    */
  def seasonalAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val base = seasonalBaseline(spark, sfDir) // store-served, already flat
    val rollup = seasonalScoreFrame(table(spark, sfDir, "events"), base)
      .groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("alert"), 1L).otherwise(0L)).as("n_alerts"))
    base.join(rollup, Seq("event_type", "hod"), "left")
      .select(col("event_type"), col("hod"), col("n_train"), col("baseline_milli"),
        coalesce(col("n_eval"), lit(0L)).as("n_eval"),
        coalesce(col("n_alerts"), lit(0L)).as("n_alerts"))
      .orderBy("event_type", "hod")
  }

  def madOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 1000d).cast("long").as("v_milli"))
    val med = ev.groupBy("event_type")
      .agg((expr("percentile(v_milli, 0.5D)") * 2d).cast("long").as("med2"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("dev2", abs(col("v_milli") * 2L - col("med2")))
    val mad = dev.groupBy("event_type")
      .agg((expr("percentile(dev2, 0.5D)") * 2d).cast("long").as("mad4"))
    dev.join(broadcast(mad), Seq("event_type"))
      .withColumn("flagged",
        col("mad4") > 0L && col("dev2") * 13490L > col("mad4") * 35000L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        max(col("med2")).as("med2"), max(col("mad4")).as("mad4"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        max(when(col("mad4") > 0L, expr("(1349 * dev2) div mad4"))).as("max_mz_milli"))
      .orderBy("event_type")
  }
}
