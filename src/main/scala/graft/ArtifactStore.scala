package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run-lifetime artifact store: the materialize-once-serve-many seam every
  * stored artifact (shingle frames, ANN results, edge layouts, indexes,
  * corpus metadata) goes through.
  *
  * The key, and the one corpus-change check, are built here and nowhere
  * else ([[getOrBuild]]):
  *  - `slot` = application id | corpus dir | checkpoint mode
  *    ([[Materialize.reliable]]) | the caller's parameters — everything
  *    that identifies the LOGICAL artifact except corpus content. Every
  *    parameter the build reads belongs in it: two parameter sets sharing
  *    a slot would evict each other's entries while a caller holds them.
  *  - `fingerprint` = [[ArtifactStore.contentFingerprint]] of each table
  *    the build reads, in the caller's order — a table regenerated at the
  *    same path is a miss, a table the build does not read is not.
  *
  * The split is what makes eviction safe and automatic: when a build
  * lands for a (slot, fingerprint) and the slot already holds entries
  * under OTHER fingerprints, those entries are superseded — the corpus at
  * that path was regenerated, nothing can ever ask for the old content
  * again (every lookup re-fingerprints the files) — so their checkpoint
  * blocks/files are released immediately instead of pinning executor
  * storage until JVM exit.
  *
  * Concurrency: the map lock covers only cell creation; builds run under
  * a PER-KEY lazy cell, so concurrent callers for unrelated keys build in
  * parallel, a second caller for the same key awaits the first build
  * instead of re-running it, and nested store acquisition (cluster store
  * -> fuzzy graph -> pair stores -> shingle store) cannot deadlock —
  * there is no global lock to order.
  *
  * Consumer audit: when a harness sets [[ArtifactStore.currentConsumer]]
  * to the registered query name before running it, every store access
  * records that consumer against the slot. StoreContractSpec sweeps every
  * registered query and fails if any slot is reachable from only ONE
  * query — a single-consumer cache is a benchmark trick, not an artifact.
  *
  * Eviction assumes in-flight plans over the SUPERSEDED snapshot have
  * completed — regeneration of a corpus mid-query already invalidates any
  * concurrent reader (the files underneath it changed), so this adds no
  * new hazard.
  */
final class ArtifactStore[V](val name: String)(release: V => Unit) {
  ArtifactStore.register(this)

  /** Per-key build cell: `lazy val` gives one build with awaiting sharers.
    * `built` flips only after the lazy val has initialized, so the evictor
    * can tell a completed build from an in-flight (or never-forced) one —
    * releasing by forcing the lazy val would EXECUTE an expensive build
    * solely to discard it, and could delete checkpoint files out from
    * under a concurrent getOrBuild about to return the value.
    */
  private final class Cell(build: () => V) {
    /** Creation order within this store: an eviction sweep keyed to a
      * cell's generation releases only OLDER cells, so an in-flight build
      * that completes late can never retire a newer fingerprint whose
      * caller may still hold the returned value.
      */
    val gen: Long = genCounter.incrementAndGet()
    @volatile var built: Boolean = false
    lazy val value: V = build()
    def force(): V = { val v = value; built = true; v }
  }

  private val genCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private val cells = new ConcurrentHashMap[(String, String), Cell]()
  private val consumerSets =
    new ConcurrentHashMap[String, java.util.Set[String]]()

  /** The value stored for `params` over the `tables` of corpus `sfDir`,
    * built on the first call (see the class doc for the key).
    */
  def getOrBuild(spark: SparkSession, sfDir: String, tables: Seq[String],
                 params: Any*)(build: => V): V =
    getOrBuild(
      (Seq(spark.sparkContext.applicationId, sfDir, Materialize.reliable(spark)) ++
        params).mkString("|"),
      tables.map(t => ArtifactStore.contentFingerprint(spark, s"$sfDir/$t.parquet"))
        .mkString("|"))(build)

  private[graft] def getOrBuild(slot: String, fingerprint: String)(build: => V): V = {
    val c = ArtifactStore.currentConsumer.get()
    if (c != null)
      consumerSets
        .computeIfAbsent(slot, _ => ConcurrentHashMap.newKeySet[String]())
        .add(c)
    val cell =
      cells.computeIfAbsent((slot, fingerprint), _ => new Cell(() => build))
    val v = cell.force() // the build itself runs OUTSIDE the map lock
    evictStale(slot, keep = fingerprint, keepGen = cell.gen)
    v
  }

  /** Release every COMPLETED entry of `slot` that is OLDER than the
    * surviving cell (`gen < keepGen`) and not `keep` itself. Two guards:
    *  - an entry still building (or registered but never forced) is
    *    DEFERRED, not forced: it stays in the map and a later getOrBuild
    *    on the slot re-sweeps it once its `built` flag has flipped — the
    *    evictor never executes a build just to discard it;
    *  - the generation bound means a stale mid-build cell that completes
    *    LATE cannot, via its own sweep, release a newer fingerprint whose
    *    caller may still be using the returned value — only
    *    newer sweeps retire older cells, never the reverse. The now-built
    *    stale cell itself survives as a resident entry until the next
    *    newer-generation access to the slot retires it.
    * (Every cell IS forced by its creator immediately after creation, so
    * a deferred entry is only ever mid-build, not orphaned.)
    */
  private def evictStale(slot: String, keep: String, keepGen: Long): Unit =
    cells.asScala.toList.foreach { case (k, c) =>
      if (k._1 == slot && k._2 != keep && c.built && c.gen < keepGen &&
          cells.remove(k, c))
        try release(c.value)
        catch { case NonFatal(_) => () } // stale blocks, best-effort
    }

  private[graft] def liveKeys: Seq[(String, String)] =
    cells.keySet.asScala.toSeq

  /** slot -> registered-query consumers recorded so far (audit surface). */
  private[graft] def consumersBySlot: Map[String, Set[String]] =
    consumerSets.asScala.map { case (s, cs) => s -> cs.asScala.toSet }.toMap

  /** Release everything (test hygiene between corpus-lifecycle specs). */
  private[graft] def clear(): Unit = {
    cells.keySet.asScala.toList.foreach { k =>
      val c = cells.remove(k)
      if (c != null)
        try release(c.value)
        catch { case NonFatal(_) => () }
    }
    consumerSets.clear()
  }
}

object ArtifactStore {
  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[ArtifactStore[_]]()
  private def register(s: ArtifactStore[_]): Unit = registry.add(s)
  private[graft] def all: Seq[ArtifactStore[_]] = registry.asScala.toSeq
  private[graft] def clearAll(): Unit = all.foreach(_.clear())

  /** The registered query currently executing — set by audit harnesses so
    * store accesses can be attributed to queries. Inheritable: a store
    * build may fan work to other threads.
    */
  val currentConsumer = new InheritableThreadLocal[String]()

  /** The ≥2-consumer contract surface: after a sweep
    * that ran every registered query under [[currentConsumer]], any slot
    * whose recorded consumer set is a singleton is a single-consumer
    * cache — a stored result no second query shares, i.e. a benchmark
    * trick. Returns (store name, slot, consumers) for each violation.
    */
  private[graft] def singleConsumerSlots: Seq[(String, String, Set[String])] =
    all.flatMap { s =>
      s.consumersBySlot.collect {
        case (slot, cs) if cs.size == 1 => (s.name, slot, cs)
      }
    }

  /** Content fingerprint of a table directory/file: md5 over the sorted
    * (path, length, mtime) listing via the Hadoop FileSystem API (so it
    * works on a distributed FS, not just local disk). Keying on the PATH
    * alone would silently serve a stale artifact when the corpus at that
    * path is regenerated within one application (long-lived session,
    * tests reusing a directory); the fingerprint makes regeneration a
    * miss instead.
    */
  private[graft] def contentFingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "absent"
    val it = fs.listFiles(p, true)
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val st = it.next()
      entries += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** A DataFrame-valued store releasing via [[Materialize.release]]. */
  def frames(name: String): ArtifactStore[DataFrame] =
    new ArtifactStore[DataFrame](name)(Materialize.release)

  /** A (DataFrame, DataFrame)-valued store. */
  def framePairs(name: String): ArtifactStore[(DataFrame, DataFrame)] =
    new ArtifactStore[(DataFrame, DataFrame)](name)({ case (a, b) =>
      Materialize.release(a); Materialize.release(b)
    })
}
