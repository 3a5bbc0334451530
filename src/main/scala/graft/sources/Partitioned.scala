package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-style partitioned parquet layout — the storage-level companion
  * to [[Bucketed]]: bucketing pre-pays the shuffle on a JOIN key,
  * partitioning pre-pays the FILTER on a low-cardinality scan key.
  *
  * A table written with `partitionBy(col)` puts each value in its own
  * directory (`source=src3/...`); a later query filtering on that
  * column prunes whole directories at PLANNING time — the scan never
  * opens, lists, or reads a pruned partition's files. At 100 TB this is
  * the difference between reading 2/20ths of the corpus and reading all
  * of it to throw 90% away: `.explain` shows the predicate under
  * `PartitionFilters` (not `PushedFilters` — it never reaches the
  * reader at all). PartitionedSpec pins exactly that plan shape.
  *
  * The partition column should be low-cardinality and coarse (source,
  * date, language) — per-value directories with tiny files are the
  * classic small-files failure, which is why doc_id-style keys belong
  * in bucketing instead.
  */
object Partitioned {

  /** Write `df` as a partitioned external parquet layout at `path`,
    * one directory per distinct value tuple of `cols`.
    */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.format("parquet")
      .partitionBy(cols: _*)
      .mode("overwrite")
      .save(path)

  /** Partition-pruned scan demo on the documents table: write the corpus
    * partitioned by `source`, then answer a per-(source, lang) profile
    * for two sources touching only those two partition directories.
    * Oracle: the same relation computed from the unpartitioned table —
    * pruning must be a pure I/O optimization, never a semantic change.
    */
  def prunedDocCounts(spark: SparkSession, sfDir: String,
                      keep: Seq[String] = Seq("src3", "src7")): DataFrame = {
    val base = Bucketed.scopedPath(spark,
      Bucketed.scopedName(spark, "graft_partitioned")) + "/documents"
    writePartitioned(graft.GraftSession.table(spark, sfDir, "documents"), base, "source")
    spark.read.parquet(base)
      .filter(col("source").isin(keep.map(lit(_)): _*))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("source", "lang")
  }
}
