package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed parquet tables — the storage-level answer to repeated
  * shuffles on the same join/aggregation key (the 100 TB design the
  * builder prompt calls "bucketing for co-located joins").
  *
  * A table written with `bucketBy(n, key)` is hash-partitioned into n
  * files-per-partition by the key AT WRITE TIME and the layout is
  * recorded in the catalog. Every later equi-join or aggregation on
  * that key reads co-located buckets and plans with NO Exchange on the
  * bucketed side(s): the shuffle is paid once at ingest instead of once
  * per query. Two tables bucketed on their join key with the SAME
  * bucket count join bucket-to-bucket (BucketingSpec pins the
  * exchange-free plan). This is how a warehouse lays out fact tables a
  * fleet of queries joins daily — on the harness corpus the tables are
  * small, but the plan shape is the scale story.
  */
object Bucketed {

  /** Run-scoped table name: `base` suffixed with the sanitized Spark
    * applicationId. Persisted indexes register fixed catalog names and
    * fixed `java.io.tmpdir` paths; two concurrent RUNS (separate
    * SparkContexts — e.g. a bench and a verify on one machine) would
    * overwrite each other's index mid-probe without this. Sessions
    * SHARING a context share the suffix by design: the catalog itself
    * is context-scoped, so that pair was never isolated — the index
    * lifecycle is single-tenant per context, concurrent-safe per run.
    */
  def scopedName(spark: SparkSession, base: String): String =
    base + "_" + spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "")

  /** Path for a (run-scoped) index or store table: under the
    * application's [[tablesRoot]], so the tables go with the run.
    */
  def scopedPath(spark: SparkSession, name: String): String =
    s"${tablesRoot(spark)}/$name"

  /** One `graft-tables_<appId>` directory per application under
    * `java.io.tmpdir`, deleted at JVM exit. It stays on the regular
    * filesystem, not the scratch root: the table write path is the
    * operator under test.
    */
  def tablesRoot(spark: SparkSession): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/${scopedName(spark, "graft-tables")}"
    graft.GraftSession.cleanupAtShutdown(root)
    root
  }

  /** Write `df` as a bucketed, per-bucket-sorted external parquet table
    * at `path`, registered as `name` in the session catalog (replacing
    * any previous registration). Sorting inside buckets makes the later
    * sort-merge join's Sort a near-no-op and enables min/max skipping.
    */
  def writeBucketed(spark: SparkSession, df: DataFrame, name: String,
                    path: String, key: String, nBuckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write.format("parquet")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .option("path", path)
      .mode("overwrite")
      .saveAsTable(name)
  }

  /** Append rows to an EXISTING bucketed table (the daily-ingest cycle:
    * the table layout is the contract, each batch pays its own bucket
    * shuffle on the way in). The bucket spec must match the table's —
    * Spark validates and the append lands new per-bucket files, so
    * later joins still read co-located buckets with no Exchange.
    */
  def appendBucketed(spark: SparkSession, df: DataFrame, name: String,
                     key: String, nBuckets: Int): Unit =
    df.write.format("parquet")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .mode("append")
      .saveAsTable(name)
}
