package graft

/** The ≥2-consumer store contract, made structural (VERDICT r11 #4).
  *
  * The artifact stores exist to share paid-once builds across MANY
  * registered queries — an index serving many workloads. A store entry
  * reachable from only ONE registered query would be a cached query
  * result wearing an artifact's clothes: it makes the bench's serve-path
  * rep time the cache, not the plan. This spec sweeps EVERY registered
  * query at sf0.001 with [[ArtifactStore.currentConsumer]] attribution
  * and fails if any store slot recorded exactly one consumer.
  *
  * The sweep doubles as a whole-registry integration pass: all queries
  * execute in one shared session, in registry order.
  */
class StoreContractSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The contract's violation set, counting ONLY registered-query call
    * paths (VERDICT r12 #8): a consumer name that is not a
    * `SparkEntry.queries` key — a spec harness reading the store under
    * some ad-hoc attribution label — must not legitimize a cache. Two
    * test-harness reads plus one production read is still a
    * single-consumer cache; the raw recorded set is intersected with the
    * registry before the >= 2 check.
    */
  private def registeredSingleConsumerSlots: Seq[(String, String, Set[String])] = {
    val registry = SparkEntry.queries.keySet
    ArtifactStore.all
      .filterNot(_.name.startsWith("test."))
      .flatMap { s =>
        s.consumersBySlot
          .map { case (slot, cs) => (s.name, slot, cs intersect registry) }
          .collect { case (n, slot, rcs) if rcs.size < 2 => (n, slot, rcs) }
      }
  }

  test("query-name filter: brackets stripped, order kept, unknown names rejected") {
    val (a, b) = ("urlcount_topk", "dedup_incremental")
    assert(SparkEntry.selectQueries(s"[$b,$a]") === Seq(b, a))
    assert(SparkEntry.selectQueries(s"$a, $b") === Seq(a, b))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries(s"$a,no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("audit helper flags a deliberately-added single-consumer cache") {
    val fake = new ArtifactStore[String]("test.singleConsumer")(_ => ())
    ArtifactStore.currentConsumer.set("lonely_query")
    try fake.getOrBuild("slotX", "fp")("value")
    finally ArtifactStore.currentConsumer.remove()
    val flagged = ArtifactStore.singleConsumerSlots
      .filter(_._1 == "test.singleConsumer")
    assert(flagged.map(f => (f._2, f._3)) === Seq(("slotX", Set("lonely_query"))))
    fake.clear()
    assert(!ArtifactStore.singleConsumerSlots.exists(_._1 == "test.singleConsumer"))
  }

  test("a spec-only consumer does not legitimize a cache: one registered " +
      "query plus two harness reads is still single-consumer (VERDICT r12 #8)") {
    val fake = new ArtifactStore[String]("prodlike.specOnly")(_ => ())
    try {
      val registered = SparkEntry.queries.keys.head
      for (c <- Seq(registered, "spec_harness_read_1", "spec_harness_read_2")) {
        ArtifactStore.currentConsumer.set(c)
        try fake.getOrBuild("slotY", "fp")("value")
        finally ArtifactStore.currentConsumer.remove()
      }
      // the raw recorded set has three names, so the un-filtered audit
      // would pass it — the registry-intersected contract must still flag
      assert(!ArtifactStore.singleConsumerSlots.exists(_._1 == fake.name),
        "precondition: raw audit sees 3 consumers and does not flag")
      val flagged = registeredSingleConsumerSlots.filter(_._1 == fake.name)
      assert(flagged.map(f => (f._2, f._3)) === Seq(("slotY", Set(registered))))
    } finally fake.clear()
    assert(!registeredSingleConsumerSlots.exists(_._1 == "prodlike.specOnly"))
  }

  test("every store slot reached by a registered query has >= 2 query consumers") {
    // fresh attribution state: earlier suites touch stores un-attributed
    ArtifactStore.clearAll()
    GraftExtensions.register(spark)
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      ArtifactStore.currentConsumer.set(name)
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(150)
      }
      finally ArtifactStore.currentConsumer.remove()
    }
    assert(failures.isEmpty, s"queries failed during the sweep: $failures")
    // registry-intersected (VERDICT r12 #8): only SparkEntry.queries call
    // paths count toward the >= 2 bar — ad-hoc harness attributions can't
    // re-legitimize a single-consumer cache
    val single = registeredSingleConsumerSlots
    assert(single.isEmpty,
      "single-consumer store slots found:\n" +
        single.map { case (st, slot, cs) => s"  $st  $slot  <- $cs" }
          .mkString("\n"))
  }

  test("ArtifactStore builds every store key; Materialize alone reads the checkpoint mode") {
    import java.io.File
    import java.nio.file.Files
    val root = new File("src")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    def sources(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val main = sources(new File(root, "main/scala"))
    def containing(literal: String): Seq[String] =
      main.filter(f => Files.readString(f.toPath).contains(literal)).map(_.getName).sorted
    assert(containing("contentFingerprint") === Seq("ArtifactStore.scala"))
    // the key as a string literal: Materialize.reliable reads it, and
    // GraftSession.sessionConf sets it from SPARK_GRAFT_RELIABLE
    assert(containing("\"spark.graft.reliableCheckpoint\"") ===
      Seq("GraftSession.scala", "Materialize.scala"))
    assert(Files.readString(new File(root, "main/scala/graft/GraftSession.scala").toPath)
      .linesIterator.filter(_.contains("\"spark.graft.reliableCheckpoint\""))
      .forall(_.contains("SPARK_GRAFT_RELIABLE")), "GraftSession only sets the mode")
    // the removed per-module key helpers and side caches: split so this
    // file does not match itself
    val removed = Seq("corpus" + "Slot", "docs" + "Fp", "emb" + "Fp", "trade" + "Fp",
      "eventSchema" + "Cache", "workload" + "Cache")
    val left = sources(root).flatMap { f =>
      val text = Files.readString(f.toPath)
      removed.filter(text.contains).map(n => s"$n in ${f.getPath}")
    }
    assert(left.isEmpty, s"removed store-key helpers still referenced: $left")
  }
}
