package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one width policy for CPU-dense stages: every spread, stream
  * widen and loop width in the engine is decided here.
  *
  * Why explicit widths: AQE's partition coalescing is a BYTE cost
  * model, right when a task's cost follows its bytes. The md5-family
  * sketch / winnow / codec stages invert that premise (a shingle costs
  * ~16 md5 digests, ~2.8 us, against ~40 shuffled bytes), so AQE packs
  * the keyed repartition that exists to spread that work back into one
  * task: at sf0.1 `repartition(col("doc_id"))` before the minhash
  * sketch coalesced to ONE partition (849 KB < the 1 MB
  * minPartitionSize) and the dedup family's hashing ran single-task on
  * 32 cores. A user-specified partition count is exempt from
  * coalescing, so every entry point here pins its width.
  *
  * The policy:
  *  - Session width: `spark.sql.shuffle.partitions` of the session
  *    ([[sessionWidth]]; `GraftSession.build` sets it to the core
  *    count). It is the cap of every width.
  *  - Width: `clamp(ceil(mass / perTask), 1, session width)`
  *    (`width`). At scale the mass saturates the cap at once, so
  *    cluster behaviour is the session width; the rule only matters
  *    for small inputs, where 32 task waves of scheduling cost more
  *    than they buy (full-width spreads ran the substring/winnow
  *    queries 2-4x slower 32-wide than 8-wide at sf0.1).
  *  - Mass for the byte form: the probe's optimized-plan stats. Absent
  *    stats (zero, or Catalyst's size sentinel on an un-analyzed RDD
  *    leaf) read as "unknown" and keep the session width rather than
  *    trust a fictitious mass.
  *  - Narrow gate, stats only: a probe is narrow when its bytes are
  *    below `session width x filesMaxPartitionBytes`, the mass a
  *    session-wide scan covers. A corpus whose scan already fills the
  *    session gates off, so no new corpus-byte exchange appears at
  *    scale. The gate never plans or runs a probe job (an `.rdd` width
  *    probe costs a full query plan per call, ~0.1-0.3 s of driver
  *    time at sf0.1).
  *  - Probe session: the cap and the gate come from the PROBE's
  *    session, not the spread frame's. A stream built inside
  *    `runToBatch`'s scoped session carries the state-partition count
  *    as its shuffle width; its probe, the parent session's static
  *    scan, carries the core count. Batch sites build both frames in
  *    one session.
  *
  * Density classes (per-task mass), measured as A/B legs at sf0.1 on
  * 32 cores against the full-width form (OPTIMIZATION_r18.md):
  *  - [[HashDense]], 16 KB per task: an md5 digest per handful of
  *    input bytes (the k=16 minhash sketch ladder, DSIR token hashing,
  *    the SQL winnow base, the stream widen). The 64 KB form cost
  *    dedup_clusters_incremental +41% and mix_dsir +26%.
  *  - [[WindowDense]], 64 KB per task: per-byte scans with cheaper
  *    per-unit work (winnow gram minima, n-token window folds, LSH
  *    vector serialization). The full-width form cost
  *    dedup_winnow_pairs +53% and dedup_substring +49%.
  *  - Edges, `edgesPerTask` = 100 000 per task, for the graph loops'
  *    edge layouts: each propagation round is a join + aggregate over
  *    the edge list, and a 259-edge graph spent ~1.4 s in 32-partition
  *    rounds, ~3x its data cost.
  */
object Rebalance {

  /** A stage's CPU cost per input byte, as its input mass per task. */
  sealed abstract class Density(val bytesPerTask: Long)
  case object HashDense extends Density(16L << 10)
  case object WindowDense extends Density(64L << 10)

  private val edgesPerTask: Long = 100000L

  /** The width every rule caps at. */
  private[graft] def sessionWidth(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** The one width function: `clamp(ceil(mass / perTask), 1, cap)`. */
  private def width(mass: BigInt, perTask: Long, cap: Int): Int =
    ((mass + perTask - 1) / perTask).max(BigInt(1)).min(BigInt(cap)).toInt

  /** [[width]] over a stats estimate: unknown stats keep the cap. */
  private[graft] def bytesWidth(statsBytes: BigInt, density: Density,
                                cap: Int): Int =
    if (statsBytes <= 0 || statsBytes >= BigInt(Long.MaxValue) / 2) cap
    else width(statsBytes, density.bytesPerTask, cap)

  /** Width for a loop over `nEdges` exact edges in `spark`'s session. */
  private[graft] def edgeWidth(spark: SparkSession, nEdges: Long): Int =
    width(nEdges, edgesPerTask, sessionWidth(spark))

  private def statsBytes(probe: DataFrame): BigInt =
    probe.queryExecution.optimizedPlan.stats.sizeInBytes

  private def narrow(probe: DataFrame): Boolean =
    statsBytes(probe) < BigInt(sessionWidth(probe.sparkSession)) *
      probe.sparkSession.sessionState.conf.filesMaxPartitionBytes

  /** Keyed repartition of `df` to the width of `probe`'s mass. Use
    * where the plan already pays this exchange: it replaces a
    * `repartition(keys…)` call, adding nothing at any scale. Pass the
    * source scan as `probe` when `df`'s own stats are not a mass (an
    * aggregate or a checkpointed frame).
    */
  def spread(df: DataFrame, probe: DataFrame, density: Density,
             keys: Column*): DataFrame =
    df.repartition(bytesWidth(statsBytes(probe), density,
      sessionWidth(probe.sparkSession)), keys: _*)

  /** [[spread]] inserted BEFORE a CPU-dense per-row stage that carries
    * no exchange today (a heavy expression fused into the scan stage),
    * only when `probe` is narrow. Reserve it for stages whose serial
    * cost is ~0.5 s or more at sf0.1: the exchange plus the extra task
    * waves cost ~0.2-0.4 s, so spreading a cheap stage is a net loss
    * (measured on sql_minhash and dedup_ngram_sweep). Keys make the
    * exchange deterministic; callers pass the row identity column.
    */
  def spreadIfNarrow(df: DataFrame, probe: DataFrame, density: Density,
                     keys: Column*): DataFrame =
    if (narrow(probe)) spread(df, probe, density, keys: _*) else df

  /** The write-side inverse of the spread: a bucketed sink writing a
    * session-wide tiny frame fans out to partitions x buckets small
    * files (the LSH index audits went from 8 to 256 files per write,
    * ~2 s each in file churn at sf0.1). When `probe` is narrow,
    * collapse to one input partition so the write emits one file per
    * bucket; at scale the write keeps its parallelism and file sizing
    * is the bucket count's job.
    */
  def writeCompactIfNarrow(df: DataFrame, probe: DataFrame): DataFrame =
    if (narrow(probe)) df.coalesce(1) else df
}
