package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE materialization seam for iterative/self-join intermediates
  * (shingle frames, minhash signatures, per-round label/rank tables).
  *
  * Why materialize at all: without it Catalyst re-derives the full
  * upstream pipeline for EACH side of every self-join and each loop
  * round's lineage grows unboundedly — the dedup suite measured
  * 468 s -> ~20 s at sf0.1 from flattening these points (see Dedup's
  * module doc).
  *
  * Two modes behind one call:
  *
  *  - DEFAULT (`spark.graft.reliableCheckpoint` unset/false):
  *    `localCheckpoint` — blocks live in executor storage, freed by the
  *    ContextCleaner when the plan is garbage-collected. Right for
  *    single-JVM local mode and for clusters where executor loss may
  *    simply rerun the query.
  *  - RELIABLE (`spark.graft.reliableCheckpoint=true`): write the frame
  *    as PARQUET under `spark.graft.checkpointDir` (default: a
  *    per-application directory under java.io.tmpdir locally; point it
  *    at durable shared storage on a cluster) and read it back.
  *    Executor loss mid-iteration then recovers from the materialized
  *    files instead of restarting a multi-hour dedup run — the mode a
  *    100 TB multi-executor job runs in.
  *
  *    Parquet, NOT `RDD.checkpoint` (VERDICT r15 #3): checkpoint files
  *    are java-serialized rows written one file per partition at the
  *    frame's full width, and every consumer re-reads ALL of them
  *    task-per-partition across process boundaries — the combined-axes
  *    record priced first-consumer artifact builds at 50-250x their
  *    single-JVM cost (corpus_ngram_novelty 81.4 s vs 1.7). A parquet
  *    read-back plans by SIZE (a small frame re-reads as one task, a
  *    big one splits at maxPartitionBytes), the files are columnar-
  *    compressed, and the write is a single job over the lineage (the
  *    checkpoint recipe needed persist + a second checkpoint job).
  *
  * Materialized files are swept by ArtifactStore eviction ([[release]]);
  * the per-application default dir under java.io.tmpdir is additionally
  * deleted by a JVM shutdown hook (GraftSession.cleanupAtShutdown —
  * without it every harness run leaked its mat-* parquet under /tmp). A
  * user-configured `spark.graft.checkpointDir` is never auto-deleted;
  * long-lived cluster sessions should sweep it themselves.
  *
  * CheckpointSeamSpec flips the flag and proves the iterative families
  * (near-dup clustering, PageRank) produce identical results either way.
  */
object Materialize {

  /** The checkpoint mode: the one read of `spark.graft.reliableCheckpoint`. */
  def reliable(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.reliableCheckpoint", "false") == "true"

  private val matId = new java.util.concurrent.atomic.AtomicLong(0)

  private def checkpointDir(df: DataFrame): String = {
    val configured = df.sparkSession.conf.get("spark.graft.checkpointDir", "")
    if (configured.nonEmpty) configured
    else {
      val sc = df.sparkSession.sparkContext
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-checkpoints-${sc.applicationId}"
      // the tmpdir default is per-application scratch whose recovery
      // value ends with the application — reclaim it at JVM exit. A
      // user-pointed spark.graft.checkpointDir (durable shared storage
      // on a cluster) is never auto-deleted.
      GraftSession.cleanupAtShutdown(dir)
      dir
    }
  }

  def apply(df: DataFrame): DataFrame =
    if (!reliable(df.sparkSession)) df.localCheckpoint()
    else {
      val path = s"${checkpointDir(df)}/mat-${matId.incrementAndGet()}"
      df.write.mode("overwrite").parquet(path)
      // explicit schema: an empty frame writes no part files, and the
      // read-back must not depend on inference finding one
      df.sparkSession.read.schema(df.schema).parquet(path)
    }

  /** Proactively free a materialized frame's storage (ArtifactStore
    * eviction, VERDICT r11 #2). A frame that went through [[apply]] plans
    * as `LogicalRDD` leaves over the checkpointed RDDs; walking the
    * analyzed plan finds them whether the stored value is the checkpoint
    * itself or a projection over one. For each: delete its reliable
    * checkpoint files (nothing references a superseded snapshot again —
    * every lookup re-fingerprints) and unpersist its blocks. Without this,
    * localCheckpoint blocks are freed only when the JVM GCs the plan and
    * the ContextCleaner notices — never, while a store map pins it.
    * Unpersisting an already-released RDD is a no-op, so artifacts that
    * share a checkpoint (a graph store holding another store's frame)
    * may release it twice safely.
    */
  def release(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
      .foreach { rdd =>
        rdd.getCheckpointFile.foreach { f =>
          try {
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        rdd.unpersist(blocking = false)
      }
    // the reliable (parquet) form plans as a file relation rooted under
    // the graft checkpoint dir's mat-* — delete exactly those roots
    // (never a caller's own parquet inputs)
    materializedRoots(df).foreach { p =>
      try p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** The mat-* parquet roots a reliable-materialized frame serves from
    * (eviction target set; also the lifecycle specs' introspection hook).
    */
  private[graft] def materializedRoots(df: DataFrame): Seq[org.apache.hadoop.fs.Path] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // rootPaths come out of the FileIndex scheme-qualified and
    // normalized; qualify the configured dir the same way before
    // comparing (ADVICE r16: a raw-substring match against an
    // unnormalized spark.graft.checkpointDir — trailing slash, relative
    // form — never matched, silently disabling release() for
    // user-configured dirs and accumulating superseded mat-* parquet
    // forever on long-lived reliable-mode sessions)
    val dir = new org.apache.hadoop.fs.Path(checkpointDir(df))
    val qualifiedDir = dir
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .makeQualified(dir)
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths
        case _ => Seq.empty[org.apache.hadoop.fs.Path]
      }
    }.flatten.filter(p =>
      p.getName.startsWith("mat-") && p.getParent == qualifiedDir)
  }

  /** Whether `df` is ALREADY a flat materialized relation — a bare
    * (possibly projected/aliased) LogicalRDD or file-relation leaf with
    * no joins/aggregates/generators above it — so a caller wanting flat
    * lineage can skip a redundant re-checkpoint (round 17: the graph
    * layouts re-checkpointed the store-served trade-pair frame on every
    * call, one full extra pass per query). Conservative: anything but
    * trivial wrappers over a leaf returns false.
    */
  def isFlat(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    @scala.annotation.tailrec
    def walk(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD | _: LogicalRelation => true
      case a: SubqueryAlias => walk(a.child)
      case pr: Project if pr.projectList.forall(_.deterministic) => walk(pr.child)
      case _ => false
    }
    walk(df.queryExecution.analyzed)
  }

  /** `df.materialized` — the call-site form every operator uses. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Materialize(df)
  }
}
