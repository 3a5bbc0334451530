package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.DataFrame

import graft.ops.{Dedup, Graph}
import graft.streaming.StreamingOps

/** ArtifactStore lifecycle contract (VERDICT r11 #2 / ADVICE r11): a
  * regenerated corpus must not strand the superseded snapshot's
  * checkpoint blocks for the application's lifetime. The store's key is
  * split (slot, content fingerprint); a build landing under a new
  * fingerprint for an existing slot releases the stale entries —
  * unpersists their localCheckpoint blocks and deletes their reliable
  * checkpoint files — while results stay correct throughout.
  */
class StoreLifecycleSpec extends SparkSpec {

  /** The checkpoint RDD ids a stored frame pins in executor storage. */
  private def planRddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }

  private def storedIds(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** Status-store updates ride listener events; poll briefly. */
  private def eventually(cond: => Boolean, ms: Long = 15000): Boolean = {
    val t0 = System.currentTimeMillis()
    while (!cond && System.currentTimeMillis() - t0 < ms) Thread.sleep(200)
    cond
  }

  private def smallDocs(mark: String): DataFrame = {
    import spark.implicits._
    // two exact-dup groups + singletons, content varying with `mark` so a
    // regeneration is a different fingerprint AND different results
    (1L to 40L).map { i =>
      val text = if (i % 10 == 0) s"shared $mark page body here"
        else s"doc $i $mark unique body with words ${i * 7} and ${i * 13}"
      (i, text)
    }.toDF("doc_id", "text")
  }

  test("eviction unit: new fingerprint for a slot releases the stale entry, nothing else") {
    val released = scala.collection.mutable.ArrayBuffer[String]()
    val store = new ArtifactStore[String]("test.evictionUnit")(released += _)
    assert(store.getOrBuild("slotA", "fp1")("a1") === "a1")
    assert(store.getOrBuild("slotB", "fp1")("b1") === "b1")
    // same slot+fingerprint: served, not rebuilt, nothing released
    assert(store.getOrBuild("slotA", "fp1")(fail("must serve cached")) === "a1")
    assert(released.isEmpty)
    // new fingerprint for slotA: rebuilds, releases ONLY slotA's old value
    assert(store.getOrBuild("slotA", "fp2")("a2") === "a2")
    assert(released.toSeq === Seq("a1"))
    assert(store.getOrBuild("slotB", "fp1")(fail("must serve cached")) === "b1")
    assert(store.liveKeys.toSet === Set(("slotA", "fp2"), ("slotB", "fp1")))
    store.clear()
    assert(released.toSet === Set("a1", "a2", "b1"))
  }

  test("concurrency unit: same key builds once with sharers awaiting; " +
      "unrelated keys build in parallel (no global lock)") {
    val store = new ArtifactStore[String]("test.concurrency")(_ => ())
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    val slowRelease = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // a deliberately slow build on slotS
    val fSlow = Future(store.getOrBuild("slotS", "fp") {
      builds.incrementAndGet(); slowStarted.countDown()
      assert(slowRelease.await(20, java.util.concurrent.TimeUnit.SECONDS))
      "slow"
    })
    assert(slowStarted.await(20, java.util.concurrent.TimeUnit.SECONDS))
    // a second caller for the SAME key must await, not rebuild
    val fDup = Future(store.getOrBuild("slotS", "fp")(fail("must not rebuild")))
    // an UNRELATED key must complete while the slow build still holds
    val other = Await.result(
      Future(store.getOrBuild("slotT", "fp") { builds.incrementAndGet(); "t" }),
      10.seconds)
    assert(other === "t")
    slowRelease.countDown()
    assert(Await.result(fSlow, 10.seconds) === "slow")
    assert(Await.result(fDup, 10.seconds) === "slow")
    assert(builds.get === 2) // one per key, never per caller
    store.clear()
  }

  test("eviction never forces an in-flight build: a stale mid-build cell is " +
      "deferred (not executed-to-discard, not released under its caller) and " +
      "only a NEWER-generation sweep retires older cells (ADVICE r12, r13)") {
    val released = scala.collection.mutable.ArrayBuffer[String]()
    val store = new ArtifactStore[String]("test.evictInFlight")(
      v => released.synchronized { released += v })
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    val slowRelease = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    assert(store.getOrBuild("slotA", "fp1")("a1") === "a1")
    // a slow regeneration build holds the fp2 cell's lazy-val monitor
    val fSlow = Future(store.getOrBuild("slotA", "fp2") {
      slowStarted.countDown()
      assert(slowRelease.await(20, java.util.concurrent.TimeUnit.SECONDS))
      "a2"
    })
    assert(slowStarted.await(20, java.util.concurrent.TimeUnit.SECONDS))
    // a third fingerprint lands while fp2 is mid-build: its evict sweep
    // must release the COMPLETED fp1 immediately but DEFER the in-flight
    // fp2 — forcing it would block this call on the lazy-val monitor
    // until slowRelease (the 5s Await would time out) and then execute
    // the build solely to discard it
    val third = Await.result(
      Future(store.getOrBuild("slotA", "fp3")("a3")), 5.seconds)
    assert(third === "a3")
    assert(released.synchronized(released.toSeq) === Seq("a1"))
    assert(store.liveKeys.toSet === Set(("slotA", "fp2"), ("slotA", "fp3")))
    // the slow build completes and returns a USABLE value — it was not
    // released out from under its caller; and its own sweep is an OLDER
    // generation than fp3, so it must NOT retire fp3 either — fp3's
    // caller may still hold the returned value (ADVICE r13). Both stay
    // resident until a newer-generation access retires them.
    slowRelease.countDown()
    assert(Await.result(fSlow, 10.seconds) === "a2")
    assert(released.synchronized(released.toSeq) === Seq("a1"))
    assert(store.liveKeys.toSet === Set(("slotA", "fp2"), ("slotA", "fp3")))
    // the next (newer-generation) sweep on the slot retires both
    assert(store.getOrBuild("slotA", "fp4")("a4") === "a4")
    assert(released.synchronized(released.toSet) === Set("a1", "a2", "a3"))
    store.clear()
  }

  test("regenerating a corpus frees the superseded entry's localCheckpoint blocks") {
    val dir = tempSfDir()
    writeTable(dir, "documents", smallDocs("v1"))
    val (dupMap1, sh1) = Dedup.repShingleStore(spark, dir)
    val ids1 = (planRddIds(dupMap1) ++ planRddIds(sh1)).toSet
    assert(ids1.nonEmpty, "stored frames must be checkpoint-backed")
    assert(eventually(ids1.subsetOf(storedIds())),
      s"stored frames must hold blocks; ids=$ids1 stored=${storedIds()}")
    val rows1 = dupMap1.count()
    assert(rows1 === 40)

    // regenerate the corpus at the SAME path: new content fingerprint
    writeTable(dir, "documents", smallDocs("v2"))
    val (dupMap2, _) = Dedup.repShingleStore(spark, dir)
    assert(dupMap2.count() === 40) // rebuilt against the new snapshot
    assert(eventually((ids1 intersect storedIds()).isEmpty),
      s"superseded blocks must be freed; leaked=${ids1 intersect storedIds()}")
    // and the new entry serves from ITS checkpoint
    val ids2 = planRddIds(dupMap2).toSet
    assert((ids2 intersect ids1).isEmpty)
  }

  test("reliable mode: eviction deletes the superseded checkpoint files") {
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val dir = tempSfDir()
      writeTable(dir, "documents", smallDocs("r1"))
      val (dupMap1, sh1) = Dedup.repShingleStore(spark, dir)
      dupMap1.count()
      // reliable materialization is parquet (VERDICT r15 #3): recover the
      // mat-* roots the stored frames serve from
      val files1 = (Materialize.materializedRoots(dupMap1) ++
        Materialize.materializedRoots(sh1)).distinct
      assert(files1.nonEmpty, "reliable mode must materialize to parquet files")
      val fs = files1.head
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      files1.foreach(f => assert(fs.exists(f)))

      writeTable(dir, "documents", smallDocs("r2"))
      Dedup.repShingleStore(spark, dir)._1.count()
      files1.foreach(f => assert(!fs.exists(f),
        s"superseded materialized parquet must be deleted: $f"))
    } finally spark.conf.set("spark.graft.reliableCheckpoint", "false")
  }

  /** The live keys of store `name` whose slot names corpus `dir`. */
  private def keysFor(name: String, dir: String): Set[(String, String)] =
    ArtifactStore.all.filter(_.name == name).flatMap(_.liveKeys)
      .filter(_._1.contains(s"|$dir|")).toSet

  /** events with `ts` as a TIMESTAMP (MICROS) or as BIGINT epoch nanos —
    * the two physical forms the harness corpora have used. */
  private def events(nanos: Boolean): DataFrame = {
    import spark.implicits._
    val secs = Seq(1L -> 1700000000L, 2L -> 1700003600L, 3L -> 1700007201L)
    if (nanos) secs.map { case (id, s) => (id, s * 1000000000L) }.toDF("event_id", "ts")
    else secs.map { case (id, s) => (id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))) }
      .toDF("event_id", "ts")
  }

  private def writeEventsMicros(dir: String): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try writeTable(dir, "events", events(nanos = false))
    finally spark.conf.set(key, prev)
  }

  test("key precision: a build is redone exactly when a table it reads is regenerated") {
    import spark.implicits._
    case class Row(what: String, store: String, setup: String => Unit,
                   read: String => Any, regenerate: String => Unit,
                   rebuilds: Boolean, sameResult: Boolean)
    val keyProbe = new ArtifactStore[Long]("test.keyPrecision")(_ => ())
    var probeBuilds = 0L
    var streams = 0
    val probe = (dir: String) =>
      keyProbe.getOrBuild(spark, dir, Seq("documents")) { probeBuilds += 1; probeBuilds }
    val probeSetup = (dir: String) => {
      writeTable(dir, "documents", smallDocs("k1"))
      writeEventsMicros(dir)
    }
    val orders = (cust2: Long) =>
      Seq((10L, 1L), (20L, cust2)).toDF("o_orderkey", "o_custkey")
    val rows = Seq(
      Row("a table in `tables` regenerated", "test.keyPrecision", probeSetup, probe,
        dir => writeTable(dir, "documents", smallDocs("k2")),
        rebuilds = true, sameResult = false),
      Row("a table outside `tables` regenerated", "test.keyPrecision", probeSetup, probe,
        dir => writeTable(dir, "events", events(nanos = true)),
        rebuilds = false, sameResult = true),
      Row("orders alone regenerated under the trade pairs", "graph.tradePairs",
        dir => {
          writeTable(dir, "orders", orders(2L))
          writeTable(dir, "lineitem", Seq((10L, 1L), (20L, 1L)).toDF("l_orderkey", "l_suppkey"))
        },
        dir => Graph.pageRank(spark, dir, iters = 3, topK = 10).collect().toSeq,
        dir => writeTable(dir, "orders", orders(3L)),
        rebuilds = true, sameResult = false),
      Row("events rewritten from the MICROS to the NANOS form", "stream.eventSchema",
        writeEventsMicros,
        dir => {
          val stream = StreamingOps.harnessEventStream(spark, dir)
          // checked before the stream runs: a source declared with a stale
          // ts type fails its read tasks rather than ending the query
          val sourceTs = stream.queryExecution.analyzed.collectLeaves()
            .flatMap(_.output).find(_.name == "ts").map(_.dataType)
          assert(sourceTs ===
            Some(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType))
          streams += 1
          val name = s"key_precision_events_$streams"
          StreamingOps.runToMemory(stream, name,
            org.apache.spark.sql.streaming.OutputMode.Append())
          spark.table(name).orderBy("event_id").collect().toSeq
        },
        dir => writeTable(dir, "events", events(nanos = true)),
        rebuilds = true, sameResult = true))
    for (r <- rows) {
      val dir = tempSfDir()
      r.setup(dir)
      val before = r.read(dir)
      val keys = keysFor(r.store, dir)
      assert(keys.size === 1, s"${r.what}: one entry after the first read, got $keys")
      r.regenerate(dir)
      val after = r.read(dir)
      assert((keysFor(r.store, dir) != keys) === r.rebuilds,
        s"${r.what}: expected rebuild=${r.rebuilds}")
      assert((before == after) === r.sameResult,
        s"${r.what}: before=$before after=$after")
    }
    keyProbe.clear()
  }

  test("shutdown cleanup registers once per root and the sweep deletes a tree") {
    // one hook per distinct root (a JVM running several applications in
    // sequence reclaims each one's scratch); re-registration is a no-op
    val root = java.nio.file.Files
      .createTempDirectory("graft-cleanup-spec").toString
    assert(GraftSession.cleanupAtShutdown(root),
      "first registration must install a hook")
    assert(!GraftSession.cleanupAtShutdown(root),
      "re-registering the same root must be a no-op")
    assert(GraftSession.cleanupAtShutdown(root + "-other"),
      "a different root must get its own hook")
    // the sweep the hook runs: recursive, handles nesting
    val nested = new java.io.File(s"$root/a/b")
    nested.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$root/a/b/f.txt"), "x")
    GraftSession.deleteRecursively(new java.io.File(root))
    assert(!new java.io.File(root).exists, "sweep must delete the whole tree")

    // the reliable-checkpoint DEFAULT dir self-registers; a user-pointed
    // spark.graft.checkpointDir must NOT (never auto-delete durable
    // storage a deployment owns)
    import spark.implicits._
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val userDir = java.nio.file.Files
        .createTempDirectory("graft-user-ckpt").toString
      spark.conf.set("spark.graft.checkpointDir", userDir)
      Materialize(Seq(1, 2, 3).toDF("v")).count()
      // cleanupAtShutdown returning true = the dir was NOT registered by
      // Materialize (the call itself then registers this test temp dir,
      // which only schedules the spec's own scratch for JVM-exit sweep)
      assert(GraftSession.cleanupAtShutdown(userDir),
        "a user-configured checkpoint dir must never be auto-registered")
      // default path: unset the conf, materialize, and the tmpdir
      // default for this application must now be hook-registered
      spark.conf.unset("spark.graft.checkpointDir")
      Materialize(Seq(4, 5).toDF("v")).count()
      val dflt = s"${System.getProperty("java.io.tmpdir")}/graft-checkpoints-" +
        spark.sparkContext.applicationId
      assert(!GraftSession.cleanupAtShutdown(dflt),
        "the default checkpoint dir must already be registered for cleanup")
      GraftSession.deleteRecursively(new java.io.File(userDir))
    } finally {
      spark.conf.set("spark.graft.reliableCheckpoint", "false")
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }
}
