package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftSession.table

/** Relational/analytic operator suite over the TPC-H-ish star schema.
  *
  * The reference has no joins or non-count aggregates (SURVEY.md §2,
  * "categories with NO implementation"), but a complete engine needs
  * them; these exercise Catalyst's join strategies the way a 100 TB
  * deployment would:
  *  - dimension tables (region/nation/supplier/customer) are broadcast —
  *    no shuffle of the fact table for those joins;
  *  - fact-fact joins (orders x lineitem) shuffle on the join key once
  *    and AQE handles skew;
  *  - money math is done in DECIMAL(18,2) then cast to DOUBLE: exact,
  *    associative, and therefore deterministic under any partitioning
  *    (a raw DOUBLE sum's value depends on partition order — both a
  *    correctness-oracle problem and a reproducibility bug at scale).
  */
object Relational {

  /** Exact money sum: decimal-accumulate, surface as double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact revenue sum: price x (1 - discount) with BOTH factors cast to
    * DECIMAL(18,2) before multiplying. The double product of two 2-dp
    * values is an exact 4-dp number (e.g. 58644.2655) whose binary
    * representation sits ON the half-cent boundary — casting the product
    * to decimal rounds it differently in Spark (exact-expansion HALF_UP)
    * vs DuckDB. Decimal x decimal is exact on both, so the sum is
    * bit-identical across engines and partitionings.
    */
  private def drevenue(price: Column, discount: Column): Column =
    sum(price.cast("decimal(18,2)") *
        (lit(1) - discount).cast("decimal(18,2)")).cast("double")

  /** TPC-H Q1-style pricing summary: scan-heavy, group-by on two
    * low-cardinality keys. Partial aggregation collapses 600k rows to a
    * handful before the exchange; at 100 TB this stays a single shuffle
    * of ~|groups| x |partitions| rows.
    */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        drevenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3-style: customer segment x orders x lineitem, top-10 revenue.
    * customer is a dimension -> broadcast; orders-lineitem shuffles on
    * orderkey. Filters are pushed to the parquet scans by Catalyst.
    */
  def topRevenueOrders(spark: SparkSession, sfDir: String, segment: String = "BUILDING"): DataFrame = {
    val cust = table(spark, sfDir, "customer").filter(col("c_mktsegment") === segment)
    val ord = table(spark, sfDir, "orders")
    val li = table(spark, sfDir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-style: revenue by nation through a 5-way join. All four
    * dimension tables broadcast; the only shuffle is the final group-by.
    */
  def revenueByNation(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val ord = table(spark, sfDir, "orders")
    val cust = table(spark, sfDir, "customer")
    val nat = table(spark, sfDir, "nation")
    val reg = table(spark, sfDir, "region")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Window functions: rank customers by total spend within nation,
    * keep top 3 per nation. One shuffle for the aggregate, one for the
    * window partitioning (both on keys a cluster would co-partition).
    */
  def topCustomersPerNation(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val ord = table(spark, sfDir, "orders")
    val cust = table(spark, sfDir, "customer")
    val nat = table(spark, sfDir, "nation")
    val spend = ord.groupBy("o_custkey")
      .agg(dsum(col("o_totalprice")).as("total_spend"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("total_spend").desc, col("o_custkey").asc)
    spend.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("n_name"), col("o_custkey").as("custkey"), col("total_spend"),
        col("rk").cast("long").as("rk")) // BIGINT: DuckDB row_number() is BIGINT
      .orderBy(col("n_name"), col("rk"))
  }

  /** ROLLUP over returnflag/linestatus — grouping-set semantics the
    * reference lacks entirely. NULL subtotal rows ordered NULLS FIRST
    * explicitly (Spark's ASC default; DuckDB's is NULLS LAST).
    */
  def salesRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    li.rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_extendedprice")).as("sales"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** CUBE over the same keys: all 2^2 grouping sets in one pass (Spark
    * expands grouping sets before the single aggregation exchange).
    */
  def salesCube(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    li.cube("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_extendedprice")).as("sales"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Revenue by part type: fact x part dimension (broadcast), one
    * group-by shuffle on a low-cardinality key.
    */
  def partTypeRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val part = table(spark, sfDir, "part")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_type")
      .agg(drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("p_type")
  }

  /** Supplier revenue by nation: lineitem x supplier x nation, both
    * dimensions broadcast; single agg shuffle.
    */
  def supplierRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val sup = table(spark, sfDir, "supplier")
    val nat = table(spark, sfDir, "nation")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice")).as("supplier_revenue"),
           countDistinct(col("s_suppkey")).as("n_suppliers"))
      .orderBy("n_name")
  }

  /** Semi/anti join: customers with and without orders (EXISTS / NOT
    * EXISTS). Broadcast the aggregated key set, never the fact table.
    */
  def customerOrderActivity(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
    val ordKeys = table(spark, sfDir, "orders").select("o_custkey")
    val active = cust.join(ordKeys, cust("c_custkey") === ordKeys("o_custkey"), "left_semi")
      .select(lit("active").as("status"), col("c_custkey"))
    val inactive = cust.join(ordKeys, cust("c_custkey") === ordKeys("o_custkey"), "left_anti")
      .select(lit("inactive").as("status"), col("c_custkey"))
    active.unionByName(inactive)
      .groupBy("status").agg(count(lit(1)).as("n_customers"))
      .orderBy("status")
  }

  /** Per-customer order cadence via lead/lag: day gaps between
    * consecutive orders (ties broken by o_orderkey for a total order),
    * aggregated to count/sum/max/avg-milli per customer. The lag window
    * and the per-customer aggregation share the o_custkey partitioning,
    * so the whole query is ONE shuffle + sort followed by a same-key
    * aggregate — the recency/frequency shape behind churn features,
    * retention cohorts and inter-arrival analyses. All gap math is
    * integral (micros div 86400e6; dates are midnights so division is
    * exact); avg is floor millis to stay engine-exact. Single-order
    * customers have no gap and are excluded (their n would be 0 and
    * every stat NULL — the interesting population is repeat customers).
    */
  def customerOrderGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("t").asc, col("o_orderkey").asc)
    table(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        // harness parquet is TIMESTAMP_NTZ; under the UTC session the
        // cast to (LTZ) timestamp is the identity instant, and it keeps
        // the op working on LTZ inputs too
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
      .withColumn("prev", lag(col("t"), 1).over(w))
      .withColumn("gap_days", expr("(t - prev) div 86400000000"))
      .filter(col("gap_days").isNotNull)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_days")).as("sum_gap_days"),
        max(col("gap_days")).as("max_gap_days"))
      .withColumn("avg_gap_milli",
        (col("sum_gap_days") * 1000L / col("n_gaps")).cast("long"))
      .orderBy("o_custkey")
  }

  /** Referential-integrity audit between the fact pair: orders without
    * any lineitem, lineitems whose order is missing, and matched keys —
    * the FULL OUTER join member of the join family (semi/anti live in
    * customerOrderActivity), collapsed to the three reconciliation
    * counts a snapshot-ingest run alerts on. Both sides pre-aggregate
    * to DISTINCT keys before the join, so the full-outer shuffle moves
    * one row per key (not per lineitem) and the join itself can never
    * skew beyond key cardinality.
    */
  def fkAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val o = table(spark, sfDir, "orders").select(col("o_orderkey")).distinct()
    val l = table(spark, sfDir, "lineitem").select(col("l_orderkey")).distinct()
    o.join(l, o("o_orderkey") === l("l_orderkey"), "full_outer")
      .select(
        when(col("o_orderkey").isNotNull && col("l_orderkey").isNotNull, "both")
          .when(col("l_orderkey").isNull, "order_only")
          .otherwise("lineitem_only").as("side"))
      .groupBy("side").agg(count(lit(1)).as("n_keys"))
      .orderBy("side")
  }

  /** Declarative data-quality audit — table-level constraint checking
    * (the expectations/constraint-suite family of public data-validation
    * frameworks): six rules over the fact pair (uniqueness, positivity,
    * range sanity, domain bound, FK membership), each reported as
    * (rule, n_checked, n_violations, pass). Rules are deliberately a
    * MIX of passing and firing on the harness data so the report is
    * non-vacuous in both directions.
    *
    * Plan shape is the at-scale audit design: ONE aggregate pass per
    * table computes every rule's violation count for that table
    * (conditional sums fused into a single scan each), the FK rule is a
    * broadcast anti-join count, and the three one-row results combine
    * with constant-side joins before exploding into rule rows — no
    * per-rule rescans.
    */
  def dqAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val o = table(spark, sfDir, "orders").agg(
      count(lit(1)).as("o_n"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos"),
      sum(when(col("o_totalprice") > 100000, 1L).otherwise(0L)).as("over_100k"))
    val l = table(spark, sfDir, "lineitem").agg(
      count(lit(1)).as("l_n"),
      sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("disc_over"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L))
        .as("qty_out"))
    val fk = table(spark, sfDir, "orders").select("o_custkey")
      .join(broadcast(table(spark, sfDir, "customer").select("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphans"))
    o.crossJoin(l).crossJoin(fk)
      .select(explode(array(
        struct(lit("lineitem.discount_le_5pct").as("rule"),
          col("l_n").as("n_checked"), col("disc_over").as("n_violations")),
        struct(lit("lineitem.quantity_in_1_50").as("rule"),
          col("l_n").as("n_checked"), col("qty_out").as("n_violations")),
        struct(lit("orders.custkey_in_customer").as("rule"),
          col("o_n").as("n_checked"), col("orphans").as("n_violations")),
        struct(lit("orders.orderkey_unique").as("rule"),
          col("o_n").as("n_checked"), col("dup_keys").as("n_violations")),
        struct(lit("orders.totalprice_le_100k").as("rule"),
          col("o_n").as("n_checked"), col("over_100k").as("n_violations")),
        struct(lit("orders.totalprice_positive").as("rule"),
          col("o_n").as("n_checked"), col("nonpos").as("n_violations")))).as("r"))
      .select(col("r.rule"), col("r.n_checked"), col("r.n_violations"),
        (col("r.n_violations") === 0L).as("pass"))
      .orderBy("rule")
  }

  /** Customer churn segmentation via the relational SET-OPERATION
    * family (EXCEPT / INTERSECT — the one join-adjacent family the
    * suite didn't yet exercise): customers active in year A but not B
    * (churned), in both (retained), only in B (new). Spark plans
    * except/intersect as left-anti/left-semi joins over the DISTINCT
    * key sets, so each branch shuffles one row per customer — key-
    * cardinality bound, skew-free, the same shape fkAudit relies on.
    * Emitting (segment, custkey) rows rather than 3 counts makes the
    * oracle hash pin the exact membership, not just sizes.
    */
  def customerChurnSetOps(spark: SparkSession, sfDir: String,
                          yearA: Int = 1995, yearB: Int = 1996): DataFrame = {
    val o = table(spark, sfDir, "orders")
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
    val a = o.filter(col("y") === yearA).select("o_custkey").distinct()
    val b = o.filter(col("y") === yearB).select("o_custkey").distinct()
    a.except(b).select(lit("churned").as("segment"), col("o_custkey"))
      .unionByName(a.intersect(b)
        .select(lit("retained").as("segment"), col("o_custkey")))
      .unionByName(b.except(a)
        .select(lit("new").as("segment"), col("o_custkey")))
      .orderBy("segment", "o_custkey")
  }

  /** Incremental materialized-view maintenance: the monthly revenue MV
    * per order priority, computed as mergeable PARTIAL aggregates over a
    * base snapshot and a delta batch (split mid-month, so groups span
    * the boundary and the merge genuinely combines partials of the same
    * key), then merged by re-aggregation. This is the 100 TB ingest
    * path: a daily pipeline never re-scans the historical corpus — it
    * aggregates the delta and merges O(|groups|) partial rows, which is
    * exactly what this operator's merge stage does. Every partial is
    * algebraic (count/sum/min/max; avg derived at read time from
    * sum+count), carried in exact integer cents so merge order can
    * never change a bit. The oracle recomputes the MV directly over the
    * full table — passing proves merge(base, delta) == recompute(all).
    */
  def incrementalMvMerge(spark: SparkSession, sfDir: String,
                         splitDate: String = "1998-06-15"): DataFrame = {
    val o = table(spark, sfDir, "orders").select(
      col("o_orderpriority"),
      (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("yyyymm"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
      col("o_orderdate"))
    def partial(rows: DataFrame): DataFrame =
      rows.groupBy("o_orderpriority", "yyyymm")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
    val split = lit(splitDate).cast("timestamp")
    val base = partial(o.filter(col("o_orderdate") < split))
    val delta = partial(o.filter(col("o_orderdate") >= split))
    base.unionByName(delta)
      .groupBy("o_orderpriority", "yyyymm")
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"), max(col("max_cents")).as("max_cents"))
      .withColumn("avg_cents", expr("sum_cents div n"))
      .orderBy("o_orderpriority", "yyyymm")
  }

  /** Co-located join over BUCKETED tables (graft.sources.Bucketed):
    * customer and orders are written bucketed by custkey with the same
    * bucket count, then joined bucket-to-bucket — the join itself plans
    * with no Exchange (BucketingSpec pins that); only the small
    * per-nation aggregate shuffles. This is the pay-the-shuffle-once
    * storage design for a key a fleet of queries joins on daily; the
    * write lands under the JVM temp dir so the query stays re-runnable
    * anywhere the harness runs.
    */
  def bucketedCustomerOrders(spark: SparkSession, sfDir: String,
                             nBuckets: Int = 8): DataFrame = {
    val cust = table(spark, sfDir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    val ords = table(spark, sfDir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_totalprice"))
    val custName = graft.sources.Bucketed.scopedName(spark, "graft_b_customer")
    val ordsName = graft.sources.Bucketed.scopedName(spark, "graft_b_orders")
    graft.sources.Bucketed.writeBucketed(
      spark, cust, custName, graft.sources.Bucketed.scopedPath(spark, custName),
      "custkey", nBuckets)
    graft.sources.Bucketed.writeBucketed(
      spark, ords, ordsName, graft.sources.Bucketed.scopedPath(spark, ordsName),
      "custkey", nBuckets)
    spark.table(custName)
      .join(spark.table(ordsName), Seq("custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spend"))
      .orderBy("c_nationkey")
  }

  /** rel_scd2: slowly-changing-dimension (type 2) build from a
    * changelog — the warehouse shape that turns an event stream of
    * state changes into validity intervals. Orders play the changelog
    * (customer x orderdate x status); consecutive equal states collapse
    * into one version row [valid_from, valid_to) via gaps-and-islands
    * (change flag -> running-sum group id), the current version closes
    * at the 9999-12-31 sentinel. All windows share ONE partitioning
    * (custkey) and one total order (t, orderkey), so the whole build is
    * a single shuffle + per-key sorts — per-customer history is tiny,
    * so no skew; at 100 TB the changelog shuffle is the floor any SCD2
    * build pays. Timestamps are epoch micros end-to-end (exact on both
    * engines).
    *
    * Output: (custkey, version, status, valid_from, valid_to, n_orders).
    */
  def scd2StatusDim(spark: SparkSession, sfDir: String): DataFrame =
    scd2FromChangelog(table(spark, sfDir, "orders"))
      .orderBy("custkey", "version")

  /** rel_scd2_merge: INCREMENTAL SCD2 maintenance — apply a new slice
    * of the changelog to an existing dimension without rebuilding
    * untouched customers (the daily shape: the changelog grows by one
    * day, the dim is petabyte-scale, and recomputing every key is the
    * cost you must not pay). Orders split at a date cutoff play
    * yesterday's dim source vs today's delta: customers ABSENT from the
    * delta keep their stored rows verbatim (anti-join — no window, no
    * rebuild); only delta-touched customers re-run the gaps-and-islands
    * build over their own full history (semi-join pulls just those keys'
    * changelog — per-key history, not the table). merged == full
    * rebuild row-for-row, so the build query's oracle verifies the
    * maintenance path exactly (the incrementalMvMerge proof pattern).
    */
  def scd2IncrementalMerge(spark: SparkSession, sfDir: String,
                           cutoffYear: Int = 1996): DataFrame = {
    val orders = table(spark, sfDir, "orders")
    val delta = orders.filter(year(col("o_orderdate")) >= cutoffYear)
    val affected = delta.select(col("o_custkey").as("custkey")).distinct()
    val oldDim = scd2FromChangelog(
      orders.filter(year(col("o_orderdate")) < cutoffYear))
    val kept = oldDim.join(affected, Seq("custkey"), "left_anti")
    val rebuilt = scd2FromChangelog(
      orders.join(affected, orders("o_custkey") === affected("custkey"), "left_semi"))
    kept.unionByName(rebuilt).orderBy("custkey", "version")
  }

  /** The SCD2 build over an arbitrary orders changelog slice — shared
    * by the full build (scd2StatusDim) and the incremental merge.
    * Unordered; callers own the presentation sort.
    */
  private def scd2FromChangelog(orders: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy("custkey")
      .orderBy(col("t").asc, col("o_orderkey").asc)
    val wRun = wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wVer = Window.partitionBy("custkey").orderBy(col("grp").asc)
    val sentinel = 253402214400000000L // epoch micros of 9999-12-31T00:00Z
    orders
      .select(col("o_custkey").as("custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"),
        col("o_orderstatus").as("status"))
      .withColumn("chg",
        when(lag(col("status"), 1).over(wSeq).isNull
          || lag(col("status"), 1).over(wSeq) =!= col("status"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("chg")).over(wRun))
      .groupBy("custkey", "grp")
      .agg(min(col("status")).as("status"), // constant within a run
        min(col("t")).as("valid_from"), count(lit(1)).as("n_orders"))
      .select(col("custkey"), col("grp").as("version"), col("status"),
        col("valid_from"),
        coalesce(lead(col("valid_from"), 1).over(wVer), lit(sentinel)).as("valid_to"),
        col("n_orders"))
  }

  /** rel_scd2_asof: point-in-time (as-of) lookup against the SCD2
    * dimension — for every order, the customer's status version valid
    * JUST BEFORE the order (t - 1 microsecond), 'NONE' for a customer's
    * first order. The standard warehouse temporal-join: an equi-join on
    * the dimension key plus the validity-range predicate; per-key
    * version counts are small (a customer's history, not the fact
    * volume), so the range filter after the key join is bounded — the
    * shape that holds when the fact side is 100 TB and the dimension is
    * millions of keys with tens of versions each. Composes the
    * scd2StatusDim build directly, proving the dim is usable as built.
    *
    * Output: (o_orderkey, custkey, t, prev_status).
    */
  def scd2AsOfLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = scd2StatusDim(spark, sfDir)
      .select(col("custkey"), col("status"), col("valid_from"), col("valid_to"))
    val facts = table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
    facts.join(dim,
        facts("custkey") === dim("custkey") &&
          dim("valid_from") <= facts("t") - 1 && facts("t") - 1 < dim("valid_to"),
        "left_outer")
      .select(col("o_orderkey"), facts("custkey").as("custkey"), col("t"),
        coalesce(col("status"), lit("NONE")).as("prev_status"))
      .orderBy("o_orderkey")
  }

  /** rel_skew_audit: join-key skew profile — the pre-flight a 100 TB
    * join runs BEFORE choosing a strategy. For each candidate join key,
    * per-key row counts roll up into log2 frequency bands
    * (band = floor(log2(cnt)), computed exactly as binary-digit count,
    * no float log): how many keys sit in each band, how many rows they
    * carry, and the band's hottest key count. A heavy top band is the
    * signal to salt that key or lean on AQE skew-join; a flat profile
    * clears a plain shuffle join. The audit is itself scale-safe: one
    * map-side-combinable count per key, then an aggregation over KEY
    * CARDINALITY rows into <= 64 band rows per relation — the output is
    * driver-safe at any corpus size, unlike a raw per-key dump.
    *
    * Output: (relation, band_log2, n_keys, n_rows, max_cnt), ordered.
    */
  def skewAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def profile(df: DataFrame, key: Column, rel: String): DataFrame =
      df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
        .groupBy((length(bin(col("cnt"))) - 1).cast("long").as("band_log2"))
        .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_cnt"))
        .select(lit(rel).as("relation"), col("band_log2"), col("n_keys"),
          col("n_rows"), col("max_cnt"))
    profile(table(spark, sfDir, "lineitem"), col("l_orderkey"), "lineitem.l_orderkey")
      .unionByName(profile(table(spark, sfDir, "orders"), col("o_custkey"), "orders.o_custkey"))
      .unionByName(profile(table(spark, sfDir, "events"), col("user_id"), "events.user_id"))
      .orderBy("relation", "band_log2")
  }

  /** rel_small_qty_revenue: the TPC-H Q17 shape — revenue locked in
    * small-quantity orders of one brand's parts (lineitems whose
    * quantity is below 20% of that part's average order quantity: the
    * "would fit in existing shipments" audit). The point of Q17 is the
    * correlated scalar subquery (avg per part); the scalable form
    * DECORRELATES it into one per-part aggregate joined back, and the
    * 0.2x-average threshold compares by integer cross-multiplication
    * (qty * 5 * n_lines < sum_qty — l_quantity is integral-valued), so
    * no float average exists anywhere.
    *
    * Scale shape: the brand filter prunes `part` to a tiny key set that
    * BROADCASTS into the lineitem scan (no fact shuffle for the probe);
    * the per-part avg is one aggregation over the pruned lineitems
    * keyed on partkey, joined back co-partitioned. One wide stage
    * total. Output: 1 row (n_parts, n_small_lines, small_revenue) —
    * the decimal-exact money convention of [[pricingSummary]].
    */
  def smallQuantityRevenue(spark: SparkSession, sfDir: String,
                           brand: String = "Brand#1"): DataFrame = {
    val parts = table(spark, sfDir, "part")
      .filter(col("p_brand") === brand).select("p_partkey")
    val li = table(spark, sfDir, "lineitem")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice"))
    val avgQ = li.groupBy("l_partkey")
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_lines"))
    li.join(avgQ, Seq("l_partkey"))
      .filter(col("qty") * 5L * col("n_lines") < col("sum_qty"))
      .agg(count_distinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_small_lines"),
        dsum(col("l_extendedprice")).as("small_revenue"))
  }

  /** rel_waiting_suppliers: the TPC-H Q21 shape — suppliers who were
    * the SOLE late shipper in a multi-supplier order (the harness
    * schema has no commit/receipt dates, so "late" is shipped more
    * than `delayDays` after the order date; the join composition, the
    * point of Q21, is unchanged): a semi join proving another supplier
    * participated, an anti join proving no OTHER supplier was late,
    * then blame counts per supplier name.
    *
    * Scale shape: Q21's semi/anti self-join composition collapses
    * algebraically to ONE per-order aggregate — a supplier is blamed
    * iff the order has >= 2 participating suppliers and EXACTLY ONE
    * late one (the semi: someone else participated; the anti: none of
    * the others was late; the blamed supplier is then identified by
    * max over the single late flag). So the plan is one
    * orders⋈lineitem join shuffled on orderkey, two stacked
    * map-side-combinable aggregations ((order, supplier) then order),
    * a broadcast supplier lookup, and a |suppliers|-bounded rollup —
    * the facts are scanned ONCE, where the literal semi+anti form
    * would re-derive the fact join for each probe (measured 3x the
    * cost at sf0.1). The top-k is a TakeOrdered, never a global sort.
    *
    * Output: (s_name, numwait) — top `topK` by (numwait desc, name).
    */
  def waitingSuppliers(spark: SparkSession, sfDir: String,
                       delayDays: Int = 60, topK: Int = 20): DataFrame = {
    val delayUs = delayDays.toLong * 86400L * 1000000L
    val so = table(spark, sfDir, "lineitem")
      .join(table(spark, sfDir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"),
        // NTZ -> UTC timestamp cast (session TZ is pinned UTC, same
        // instant DuckDB's epoch_us sees)
        (unix_micros(col("l_shipdate").cast("timestamp")) -
          unix_micros(col("o_orderdate").cast("timestamp")) > delayUs).as("late"))
      .groupBy("ok", "s")
      .agg(max(col("late")).as("late")) // one row per (order, supplier)
    so.groupBy("ok")
      .agg(count(lit(1)).as("n_supp"),
        sum(col("late").cast("long")).as("n_late"),
        max(when(col("late"), col("s"))).as("blamed"))
      .filter(col("n_supp") >= 2L && col("n_late") === 1L)
      .join(broadcast(table(spark, sfDir, "supplier")),
        col("blamed") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(topK)
  }

  /** rel_market_share: the TPC-H Q8 shape — within one MARKET (orders
    * from customers of one region, lines of one part type), each
    * SUPPLIER NATION's yearly revenue share. Q8's point is the 6-table
    * star with two independent nation lookups (customer-side for the
    * market filter, supplier-side for the share dimension) — the same
    * dimension table joined twice in different roles.
    *
    * Exact-integer money: a line's discounted revenue is carried as
    * price_cents * (100 - discount_pct) — both factors exact BIGINTs
    * (prices have 2 decimals, discounts are whole percents) — and
    * accumulated in DECIMAL(38,0) so a 100 TB year cannot wrap;
    * share_ppm = (1,000,000 * nation_units) div year_units is then
    * bit-identical on any engine, no float revenue anywhere.
    *
    * Scale shape: every dimension (pruned part keys, market customer
    * keys, supplier->nation map) BROADCASTS into the fact scan; the
    * only fact-sized shuffle is lineitem⋈orders on orderkey. The share
    * window runs over the |years x nations| aggregate rows, never the
    * facts. Output: (o_year, n_name, n_items, share_ppm), ordered.
    */
  def marketShare(spark: SparkSession, sfDir: String,
                  region: String = "ASIA", ptype: String = "PROMO"): DataFrame = {
    val nat = table(spark, sfDir, "nation")
    val marketCust = table(spark, sfDir, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, sfDir, "region")
        .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppNation = table(spark, sfDir, "supplier")
      .join(broadcast(nat.select(col("n_nationkey").as("sn_key"), col("n_name"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("n_name"))
    val units = ((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long") *
      (lit(100L) - (col("l_discount").cast("decimal(18,2)") * 100).cast("long")))
    val byNation = table(spark, sfDir, "lineitem")
      .join(broadcast(table(spark, sfDir, "part")
        .filter(col("p_type") === ptype).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(table(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(marketCust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(units.cast("decimal(38,0)")).as("units"))
    val w = Window.partitionBy("o_year")
    byNation
      .withColumn("total", sum(col("units")).over(w))
      .select(col("o_year"), col("n_name"), col("n_items"),
        expr("(1000000 * units) div total").as("share_ppm"))
      .orderBy("o_year", "n_name")
  }

  /** rel_open_orders: concurrent-open-order depth over time — the
    * SWEEP-LINE pattern (interval stabbing): each order is an interval
    * [orderdate, orderdate + holdDays), and "how many are open on day
    * d" is the running sum of +1/-1 boundary events — the shape behind
    * every concurrency/occupancy/inventory-level question, and the one
    * join-free way to answer it (the naive day x interval join is
    * |days| x |orders|). Depth changes only at boundaries, so the
    * output is one row per boundary day with the depth holding until
    * the next row.
    *
    * Scale shape: two boundary events per order collapse map-side to
    * one (+n start, -n end) delta per DAY before the single ordered
    * running-sum window over the |days|-bounded rows. Facts cross the
    * shuffle as |distinct days| deltas, never as orders. Output:
    * (day, delta, n_open), ordered by day.
    */
  def openOrderDepth(spark: SparkSession, sfDir: String,
                     holdDays: Int = 30): DataFrame = {
    val ord = table(spark, sfDir, "orders")
      .select(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .as("start_day"))
    val events = ord.select(col("start_day").as("day"), lit(1L).as("d"))
      .unionByName(ord.select((col("start_day") + holdDays.toLong).as("day"),
        lit(-1L).as("d")))
    events.groupBy("day").agg(sum(col("d")).as("delta"))
      .withColumn("n_open",
        sum(col("delta")).over(Window.orderBy("day")))
      .orderBy("day")
  }

  /** rel_forget_sweep: right-to-be-forgotten IMPACT AUDIT — given a
    * deletion manifest of customers (here the deterministic %97 set,
    * the eval-set-manifest discipline), how many rows each relation
    * loses, INCLUDING the cascade: deleting a customer removes their
    * orders, and those orders' lineitems — the two-hop reach a naive
    * per-table key scan misses, and the number a deletion job must
    * reconcile against after running. The events stream is swept by
    * the same manifest rule on user_id (stream-side identity).
    *
    * Scale shape: the manifest and its one-hop order-key projection
    * both broadcast (a GDPR batch is bounded); lineitem's cascade
    * probe is a broadcast semi-join keyed on orderkey — no fact
    * shuffle anywhere; per-relation counts are map-side combinable and
    * union to 4 rows. Output: (relation, n_rows, n_deleted,
    * share_milli), ordered by relation.
    */
  def forgetSweep(spark: SparkSession, sfDir: String, mod: Int = 97): DataFrame = {
    val delCust = table(spark, sfDir, "customer")
      .filter(col("c_custkey") % mod === 0).select("c_custkey")
    val delOrders = table(spark, sfDir, "orders")
      .join(broadcast(delCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey")
    def audit(rel: String, df: DataFrame, hit: Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          sum(when(hit, 1L).otherwise(0L)).as("n_deleted"))
        .select(lit(rel).as("relation"), col("n_rows"), col("n_deleted"),
          expr("(1000 * n_deleted) div n_rows").as("share_milli"))
    val cust = audit("customer", table(spark, sfDir, "customer"),
      col("c_custkey") % mod === 0)
    val ord = audit("orders", table(spark, sfDir, "orders")
        .join(broadcast(delCust), col("o_custkey") === col("c_custkey"), "left")
        .withColumn("hit", col("c_custkey").isNotNull),
      col("hit"))
    val li = audit("lineitem", table(spark, sfDir, "lineitem")
        .join(broadcast(delOrders.withColumnRenamed("o_orderkey", "del_ok")),
          col("l_orderkey") === col("del_ok"), "left")
        .withColumn("hit", col("del_ok").isNotNull),
      col("hit"))
    val ev = audit("events", table(spark, sfDir, "events"),
      col("user_id") % mod === 0)
    cust.unionByName(ord).unionByName(li).unionByName(ev)
      .orderBy("relation")
  }

  /** rel_idle_customers: the TPC-H Q22 shape — wealthy-but-idle
    * accounts: customers whose balance exceeds the average over
    * positive-balance customers yet who have placed no orders SINCE
    * `since` (the synthetic corpus gives every customer some ancient
    * order, so absolute never-ordered is vacuous — recency-idle is
    * both non-vacuous and the realistic churn form), rolled up per
    * market segment. Q22's two structural points survive the schema
    * translation intact: a GLOBAL scalar subquery feeding the per-row
    * filter, and an anti join proving order absence.
    *
    * The scalar average is DECORRELATED the [[smallQuantityRevenue]]
    * way — no float average exists: the 1-row (n_pos, sum_pos) cents
    * aggregate broadcasts, and "bal > avg" compares by integer
    * cross-multiplication (bal_cents * n_pos > sum_pos).
    *
    * Scale shape: one customer scan feeds both the 1-row stats
    * aggregate and the filter; the anti join probes the distinct
    * order-customer keys co-partitioned on custkey; the rollup is
    * |segments|-bounded. Output: (c_mktsegment, n_custs,
    * total_bal_cents), ordered.
    */
  def idleCustomers(spark: SparkSession, sfDir: String,
                    since: String = "2000-01-01"): DataFrame = {
    val cust = table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("bal_cents"))
    val stats = cust.filter(col("bal_cents") > 0L)
      .agg(count(lit(1)).as("n_pos"), sum(col("bal_cents")).as("sum_pos"))
    cust.crossJoin(broadcast(stats))
      .filter(col("bal_cents") * col("n_pos") > col("sum_pos"))
      .join(table(spark, sfDir, "orders")
        .filter(col("o_orderdate") >= lit(since).cast("timestamp"))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_custs"), sum(col("bal_cents")).as("total_bal_cents"))
      .orderBy("c_mktsegment")
  }
}
