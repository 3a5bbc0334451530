package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, EventWindows}

/** Randomized cross-implementation equivalence — the property-test layer
  * over the round-12 rewrites. Each property pits an optimized
  * implementation against its direct executable-semantics twin on
  * seeded random inputs dense in edge cases (timestamp ties, window
  * boundaries, empty sides, self-contained components), far beyond what
  * hand-built fixtures enumerate. Seeds are FIXED: failures reproduce.
  */
class RandomizedEquivalenceSpec extends SparkSpec {

  test("linear attribution: prefix-sum == pairwise on random event streams " +
      "(ties, boundary hits, touch-free users, zero-value and NEGATIVE " +
      "refund purchases)") {
    import spark.implicits._
    for (seed <- Seq(7, 41, 1003)) {
      val rnd = new Random(seed)
      val look = 50L // seconds — small window so boundaries hit often
      val types = Seq("view", "click", "purchase")
      // coarse timestamp grid => frequent exact ties and exact-boundary
      // (t == p - look, t == p) pairs; users 1..6 => dense per-user
      // streams; ~20% NEGATIVE values (refund rows) pin the pmod/floor-div
      // remainder split the two forms share (ADVICE r12: with %/div the
      // negative remainder folded into clicks in one form only)
      val evs = (1L to 400L).map { id =>
        val t = rnd.nextInt(40) * 25L // 0..975s on a 25s grid
        (id, t * 1000000000L, (rnd.nextInt(6) + 1).toLong,
          types(rnd.nextInt(3)),
          if (rnd.nextInt(10) == 0) 0.0
          else (rnd.nextInt(500) - 100) / 100.0, "p")
      }
      val dir = tempSfDir()
      writeTable(dir, "events",
        evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val fast = EventWindows.linearAttribution(spark, dir, look).collect().toSeq
      val ref = EventWindows.linearAttributionPairwise(spark, dir, look).collect().toSeq
      assert(fast === ref, s"seed=$seed")
      // value conservation holds on every random stream
      val mass = evs.filter(_._4 == "purchase")
        .map(e => math.floor(e._5 * 1000d).toLong).sum
      assert(fast.map(_.getLong(2)).sum === mass, s"seed=$seed conservation")
    }
  }

  test("determinism-contract helpers == pure-JVM reference on adversarial " +
      "random longs (negative nanos, sub-ms residues, near-edge values) — " +
      "floor division, pmod, md5-derived h60/h32, DECIMAL money sums") {
    import spark.implicits._
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    for (seed <- Seq(13, 7919)) {
      val rnd = new Random(seed)
      // the snapped floor-div (x - pmod(x,d)) needs x >= MinValue + d:
      // clamp the deep-negative tail so the subtraction cannot wrap
      def adv(): Long = rnd.nextInt(6) match {
        case 0 =>
          val v = rnd.nextLong()
          if (v < Long.MinValue + 2000000000L) v + 2000000000L else v
        case 1 => -rnd.nextLong(1000000000000000000L) // pre-1970 nanos
        case 2 => rnd.nextLong(2000001L) - 1000000L   // small mixed-sign
        case 3 => Long.MaxValue - rnd.nextInt(1000)   // near the top edge
        case 4 => Long.MinValue + 2000000000L + rnd.nextInt(1000)
        case 5 => rnd.nextLong(1000L) - 500L          // sub-ms around zero
      }
      val rows = (1 to 300).map(i => (i.toLong, adv()))
      val df = rows.toDF("i", "x")
      // the shared floorDiv idiom + pmod vs Math.floorDiv/floorMod
      val got = df.select(col("i"),
          expr("(x - pmod(x, 1000000000L)) div 1000000000L").as("fd"),
          pmod(col("x"), lit(97L)).as("pm"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      rows.foreach { case (i, x) =>
        assert(got(i) === ((Math.floorDiv(x, 1000000000L), Math.floorMod(x, 97L))),
          s"seed=$seed x=$x floorDiv/pmod")
      }
      // h60/h32 vs a MessageDigest reference of the documented recipe
      val hs = df.select(col("i"),
          graft.functions.OracleHash.h60(concat(lit("k:"), col("x"))).as("a"),
          graft.functions.OracleHash.h32(concat(lit("k:"), col("x"))).as("b"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      rows.foreach { case (i, x) =>
        val hex = md5hex("k:" + x)
        assert(hs(i) === ((java.lang.Long.parseLong(hex.take(15), 16),
          java.lang.Long.parseLong(hex.take(8), 16))), s"seed=$seed x=$x h60/h32")
      }
      // DECIMAL(18,6)-routed mixed-sign money sum vs exact BigDecimal
      // (Spark's double->decimal cast is HALF_UP on the decimal string rep)
      val moneys = rows.map { case (_, x) =>
        (Math.floorMod(x, 4000001L) - 2000000L) / 1000.0 }
      val sparkSum = moneys.toDF("m")
        .agg(sum(col("m").cast("decimal(18,6)")).cast("double"))
        .head().getDouble(0)
      val refSum = moneys
        .map(m => BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      assert(sparkSum === refSum, s"seed=$seed decimal money sum")
    }
  }

  test("incremental cluster fold-in == full rebuild on random pair graphs " +
      "with random batch splits") {
    import spark.implicits._
    for (seed <- Seq(5, 99, 271)) {
      val rnd = new Random(seed)
      val n = 60
      val pairs = (1 to 120).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val df = pairs.toDF("doc_a", "doc_b")
      val mod = rnd.nextInt(4) + 2 // random batch marker density
      val inc = Dedup.incrementalClustersFromPairs(df, _ % mod === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val full = Dedup.connectedComponents(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(inc === full, s"seed=$seed mod=$mod")
    }
  }

  test("winnowing guarantee on random text: two docs sharing a planted " +
      "substring of length >= k+w-1 always share a fingerprint") {
    import spark.implicits._
    val (k, w) = (8, 4)
    for (seed <- Seq(3, 59, 487)) {
      val rnd = new Random(seed)
      def randText(len: Int): String =
        (1 to len).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
      // pairs of random docs with a shared substring of EXACTLY k+w-1
      // chars planted at random offsets — the scheme's minimum guarantee
      val shared = randText(k + w - 1)
      val docs = (1L to 10L).map { i =>
        val pre = randText(rnd.nextInt(30))
        val post = randText(rnd.nextInt(30))
        (i, pre + shared + post)
      } :+ (99L, randText(120)) // and one unrelated doc
      val fps = docs.toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.functions.ShingleColumns
            .winnowFps(col("text"), k, w).as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      for (a <- 1L to 10L; b <- (a + 1) to 10L)
        assert((fps(a) intersect fps(b)).nonEmpty,
          s"seed=$seed docs $a,$b share ${k + w - 1} chars but no fingerprint")
      // density sanity: every doc selects far fewer fps than grams
      docs.foreach { case (id, t) =>
        assert(fps(id).size <= t.length - k + 1) }
    }
  }

  test("minhash k-minima sketch is duplicate- and order-invariant on " +
      "random multisets (banding: identical content -> identical bands)") {
    import spark.implicits._
    for (seed <- Seq(11, 211)) {
      val rnd = new Random(seed)
      val base = (1 to 40).map(_ => "s" + rnd.nextInt(25)).distinct
      // three presentations of the SAME set: shuffled, duplicated, both
      val rows =
        base.map(("a", _)) ++
          rnd.shuffle(base).map(("b", _)) ++
          (base ++ base ++ rnd.shuffle(base)).map(("c", _))
      val sigs = rows.toDF("doc", "shingle")
        .groupBy("doc")
        .agg(graft.functions.MinHashSketch.sketch(col("shingle"), 16).as("sig"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(sigs("a") === sigs("b"), s"seed=$seed order variance")
      assert(sigs("a") === sigs("c"), s"seed=$seed duplicate variance")
      assert(sigs("a").length === 16)
    }
  }

  test("GramTriangleAgg == plain-Scala quantize/accumulate reference on " +
      "random float embeddings (negatives, zeros, all-zero vectors)") {
    import spark.implicits._
    for (seed <- Seq(17, 323)) {
      val rnd = new Random(seed)
      val dim = 5
      val vecs = (1 to 60).map { i =>
        if (i % 11 == 0) Array.fill(dim)(0.0f) // all-zero: counts, adds 0
        else Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
      }
      // reference: the documented exact-integer arithmetic, in plain Scala
      val ref = Array.ofDim[Long](dim, dim)
      vecs.foreach { v =>
        val vm = v.map(x => math.floor(x.toDouble * 1000000d).toLong)
        val scale = vm.map(math.abs).max
        val q = vm.map(m => if (scale == 0L) 0L
          else math.signum(m) * ((math.abs(m) * 127L) / scale))
        for (i <- 0 until dim; j <- i until dim) ref(i)(j) += q(i) * q(j)
      }
      val got = vecs.map(v => Tuple1(v)).toDF("embedding")
        .agg(graft.functions.GramSketch.triangle(col("embedding")).as("t"))
        .select(explode(col("t")).as("e"))
        .select(col("e.di"), col("e.dj"), col("e.n_vecs"), col("e.g"))
        .collect()
      assert(got.length === dim * (dim + 1) / 2)
      got.foreach { r =>
        val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
        assert(r.getLong(2) === vecs.length.toLong, s"seed=$seed n_vecs")
        assert(r.getLong(3) === ref(i)(j), s"seed=$seed G[$i][$j]")
      }
    }
  }

  test("native graft_dot == higher-order-function fold on random arrays") {
    import spark.implicits._
    val rnd = new Random(29)
    val rows = (1 to 50).map { _ =>
      val n = rnd.nextInt(8) + 1
      (Array.fill(n)(rnd.nextDouble() * 4 - 2), Array.fill(n)(rnd.nextDouble() * 4 - 2))
    }
    val df = rows.toDF("a", "b")
    val both = df.select(
        expr("graft_dot(a, b)").as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, p) -> acc + p)")
          .as("hof"))
      .collect()
    // the native expression documents a SEQUENTIAL left fold — exactly
    // aggregate()'s order — so equality is EXACT, not approximate
    both.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("CMS point estimates on random Zipf streams: never an undercount, " +
      "and within the declared eps * N overcount bound") {
    import spark.implicits._
    for (seed <- Seq(23, 173)) {
      val rnd = new Random(seed)
      // Zipf-ish stream: token t_k drawn with weight ~ 1/k
      val vocab = (1 to 30).map(i => s"tok$i")
      val stream = (1 to 2000).map { _ =>
        val r = rnd.nextDouble()
        vocab(math.min(29, (math.exp(r * math.log(30.0)) - 1).toInt))
      }
      val exact = stream.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val df = stream.toDF("token")
      val skRow = graft.Materialize(df.agg(
        expr("count_min_sketch(token, 0.02d, 0.99d, 42)").as("sk")))
      val ests = skRow.crossJoin(vocab.toDF("token"))
        .select(col("token"), expr("graft_cms_estimate(sk, token)").as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bound = math.ceil(0.02 * stream.size).toLong
      vocab.foreach { t =>
        val ex = exact.getOrElse(t, 0L)
        assert(ests(t) >= ex, s"seed=$seed CMS undercounted $t")
        assert(ests(t) <= ex + bound,
          s"seed=$seed CMS overcount ${ests(t) - ex} > eps*N=$bound for $t")
      }
    }
  }

  test("simhash is order-invariant on random shingle streams " +
      "(summation commutes; duplicates legitimately shift it)") {
    import spark.implicits._
    for (seed <- Seq(31, 307)) {
      val rnd = new Random(seed)
      val base = (1 to 60).map(_ => "sh" + rnd.nextInt(40))
      val rows = base.map(("a", _)) ++ rnd.shuffle(base).map(("b", _))
      val sigs = rows.toDF("doc", "shingle")
        .groupBy("doc")
        .agg(graft.functions.SimHashSketch.sketch(col("shingle")).as("sig"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sigs("a") === sigs("b"), s"seed=$seed")
    }
  }

  test("pack plan conserves every token on random corpora: chunk sizes sum " +
      "to corpus tokens, no chunk exceeds the context window") {
    import spark.implicits._
    for (seed <- Seq(37, 401)) {
      val rnd = new Random(seed)
      val docs = (1L to 120L).map { i =>
        val words = (1 to (rnd.nextInt(60) + 1)).map(_ => "w" + rnd.nextInt(99))
        (i, words.mkString(" "))
      }
      val dir = tempSfDir()
      writeTable(dir, "documents", docs.toDF("doc_id", "text"))
      val ctx = 64L
      val plan = graft.ops.Corpus.packPlan(spark, dir, contextLen = ctx)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val total = docs.map(_._2.split(" ").count(_.nonEmpty).toLong).sum
      assert(plan.map(_._2).sum === total, s"seed=$seed token conservation")
      assert(plan.map(_._1).sum === docs.size.toLong, s"seed=$seed doc conservation")
      plan.foreach { case (_, toks, nw, pad) =>
        assert(nw === (toks + ctx - 1) / ctx, s"seed=$seed window count")
        assert(pad >= 0 && pad < ctx, s"seed=$seed pad bound")
      }
    }
  }

  private def randomEvents(seed: Int): Seq[(Long, Long, Long, String, Double, String)] = {
    val rnd = new Random(seed)
    val types = Seq("view", "click", "purchase")
    (1L to 300L).map { id =>
      val t = rnd.nextInt(50) * 450L // 0..22050s on a coarse grid: many ties
      (id, t * 1000000000L, (rnd.nextInt(5) + 1).toLong,
        types(rnd.nextInt(3)), rnd.nextInt(500) / 100.0, "p")
    }
  }

  test("tumbling windows == plain-Scala bucket/count/sum reference on random events") {
    import spark.implicits._
    for (seed <- Seq(43, 509)) {
      val evs = randomEvents(seed)
      val dir = tempSfDir()
      writeTable(dir, "events",
        evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      // sum_value is decimal-summed then surfaced as double (dsum6)
      val got = EventWindows.tumbling(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val ref = evs.groupBy(e => ((e._2 / 1000000000L / 3600L) * 3600L, e._4))
        .map { case (k, xs) =>
          k -> (xs.size.toLong,
            xs.map(e => new java.math.BigDecimal(e._5)
              .setScale(6, java.math.RoundingMode.HALF_UP))
              .reduce(_.add(_)).doubleValue)
        }
      assert(got.keySet === ref.keySet, s"seed=$seed buckets")
      ref.foreach { case (k, (n, sm)) =>
        assert(got(k)._1 === n, s"seed=$seed count at $k")
        assert(got(k)._2 === sm, s"seed=$seed sum at $k")
      }
    }
  }

  test("sessionize == plain-Scala gap-split reference on random events " +
      "(equal-timestamp runs, singleton sessions)") {
    import spark.implicits._
    for (seed <- Seq(47, 601)) {
      val evs = randomEvents(seed)
      val dir = tempSfDir()
      writeTable(dir, "events",
        evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val got = EventWindows.sessionize(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val ref = evs.groupBy(_._3).map { case (u, xs) =>
        val ts = xs.sortBy(e => (e._2, e._1)).map(_._2 / 1000000000L)
        // split when the gap to the previous event exceeds 1800s
        var sessions = List.empty[Long]
        var cur = 0L
        var prev = Long.MinValue
        ts.foreach { t =>
          if (prev == Long.MinValue || t - prev > 1800L) {
            if (cur > 0) sessions ::= cur
            cur = 1L
          } else cur += 1L
          prev = t
        }
        if (cur > 0) sessions ::= cur
        u -> (sessions.size.toLong, sessions.max)
      }
      assert(got === ref, s"seed=$seed")
    }
  }

  test("as-of attribution == plain-Scala latest-prior-view reference on " +
      "random events (equal-ts inclusive, max-id tie)") {
    import spark.implicits._
    for (seed <- Seq(53, 701)) {
      val evs = randomEvents(seed)
      val dir = tempSfDir()
      writeTable(dir, "events",
        evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val got = EventWindows.asOfAttribution(spark, dir).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
      val views = evs.filter(_._4 == "view")
      val ref = evs.filter(_._4 == "purchase").map { p =>
        val pt = p._2 / 1000L // micros, as the operator computes
        val elig = views.filter(v => v._3 == p._3 && v._2 / 1000L <= pt)
        p._1 -> (if (elig.isEmpty) -1L
          else elig.maxBy(v => (v._2 / 1000L, v._1))._1)
      }.toMap
      assert(got === ref, s"seed=$seed")
    }
  }

  test("bucketed interval join == naive all-pairs reference on random " +
      "events (bucket-boundary crossings, inclusive endpoints)") {
    import spark.implicits._
    for (seed <- Seq(61, 811)) {
      val evs = randomEvents(seed)
      val dir = tempSfDir()
      writeTable(dir, "events",
        evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val got = EventWindows.intervalJoin(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      val views = evs.filter(_._4 == "view")
      val ref = (for {
        p <- evs.filter(_._4 == "purchase")
        v <- views
        if v._3 == p._3
        pt = p._2 / 1000L; vt = v._2 / 1000L
        if vt >= pt - 3600L * 1000000L && vt <= pt
      } yield (p._1, v._1)).toSet
      assert(got === ref, s"seed=$seed")
      assert(ref.nonEmpty, s"seed=$seed vacuous")
    }
  }

  test("funnel == plain-Scala sequential-reach reference on random events " +
      "(equal-ts chaining with earlier-steps-first ties)") {
    import spark.implicits._
    val steps = Seq("view", "click", "purchase")
    for (seed <- Seq(71, 997)) {
      val evs = randomEvents(seed)
      val dir = tempSfDir()
      writeTable(dir, "events",
        evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val got = EventWindows.funnel(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      // reference: fold each user's events in (tus, step, event_id) order
      val ref = Array.fill(steps.length)(0L)
      evs.groupBy(_._3).foreach { case (_, xs) =>
        val reach = Array.fill[Option[Long]](steps.length)(None)
        xs.map(e => (e._2 / 1000L, steps.indexOf(e._4), e._1))
          .sortBy(identity)
          .foreach { case (t, si, _) =>
            if (si == 0 || (si > 0 && reach(si - 1).isDefined))
              if (reach(si).forall(_ > t)) reach(si) = Some(t)
          }
        steps.indices.foreach(i => if (reach(i).isDefined) ref(i) += 1)
      }
      steps.indices.foreach(i =>
        assert(got(i + 1L) === ref(i), s"seed=$seed step ${i + 1}"))
    }
  }

  test("decontamination catches every planted leak on random corpora, and " +
      "the Bloom-prefiltered form returns the identical relation") {
    import spark.implicits._
    for (seed <- Seq(73, 1013)) {
      val rnd = new Random(seed)
      def words(n: Int): String =
        (1 to n).map(_ => "w" + rnd.nextInt(400)).mkString(" ")
      // eval docs are doc_id % 97 == 0; plant a >= 5-word span from an
      // eval doc into some train docs (>= 3 shared 3-gram shingles)
      val evalDocs = Seq(97L, 194L).map(id => (id, words(20)))
      val leakSpans = evalDocs.map { case (_, t) =>
        t.split(" ").slice(3, 10).mkString(" ") } // 7 words = 5 shared 3-grams
      val leaked = (1L to 6L).map { i =>
        (i, words(rnd.nextInt(10) + 3) + " " + leakSpans((i % 2).toInt) +
          " " + words(rnd.nextInt(10) + 3))
      }
      val clean = (20L to 40L).map(i => (i, words(15)))
      val dir = tempSfDir()
      writeTable(dir, "documents",
        (evalDocs ++ leaked ++ clean).toDF("doc_id", "text"))
      val flagged = Dedup.decontaminate(spark, dir).collect()
        .map(_.getLong(0)).toSet
      // every planted leak is caught (random `clean` docs may also share
      // shingles by chance — overlap >= 3 legitimately flags them too)
      assert(leaked.map(_._1).toSet.subsetOf(flagged), s"seed=$seed missed a leak")
      // the Bloom-prefiltered plan returns the IDENTICAL relation
      val bloom = Dedup.decontaminateBloom(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Dedup.decontaminate(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bloom === exact, s"seed=$seed bloom/exact divergence")
    }
  }

  test("epoch shuffle is a true permutation on random corpora: every epoch " +
      "holds every doc exactly once, orders differ across epochs, and the " +
      "assignment is rerun-deterministic") {
    import spark.implicits._
    for (seed <- Seq(79, 1103)) {
      val rnd = new Random(seed)
      val docs = (1L to 150L).map(i => (i, s"doc $i " + "w" * (rnd.nextInt(6) + 1)))
      val dir = tempSfDir()
      writeTable(dir, "documents", docs.toDF("doc_id", "text"))
      def run() = graft.ops.Corpus.epochShuffle(spark, dir, epochs = 3).collect()
        .map(r => (r.getLong(r.fieldIndex("epoch")), r.getLong(r.fieldIndex("doc_id")),
          r.getLong(r.fieldIndex("shard")), r.getLong(r.fieldIndex("pos"))))
      val a = run()
      // every epoch is a permutation of the corpus
      (0L to 2L).foreach { e =>
        val ids = a.filter(_._1 == e).map(_._2)
        assert(ids.sorted.toSeq === docs.map(_._1), s"seed=$seed epoch $e")
      }
      // epochs order differently (the entire point of re-shuffling)
      def order(e: Long) = a.filter(_._1 == e).sortBy(r => (r._3, r._4)).map(_._2).toSeq
      assert(order(0L) !== order(1L), s"seed=$seed epochs must differ")
      // deterministic under rerun (reproducible training order)
      assert(run().sorted.toSeq === a.sorted.toSeq, s"seed=$seed rerun")
    }
  }

  test("substring dup report on random corpora with planted duplicated " +
      "spans == plain-Scala window-frequency reference") {
    import spark.implicits._
    for (seed <- Seq(83, 1201)) {
      val rnd = new Random(seed)
      def words(k: Int): Seq[String] = (1 to k).map(_ => "t" + rnd.nextInt(300))
      val span = words(12) // planted 12-word span: 5 duplicated 8-windows
      val docs = (1L to 30L).map { i =>
        val body =
          if (i <= 10) words(rnd.nextInt(8) + 2) ++ span ++ words(rnd.nextInt(8) + 2)
          else words(rnd.nextInt(20) + 8)
        (i, body.mkString(" "))
      }
      val dir = tempSfDir()
      writeTable(dir, "documents", docs.toDF("doc_id", "text"))
      val got = Dedup.substringDupReport(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // reference: distinct 8-word windows per doc; a window duplicated
      // iff >= 2 docs contain it
      val win = docs.map { case (id, t) =>
        id -> t.split(" ").sliding(8).map(_.mkString(" ")).toSet }.toMap
      val freq = win.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      docs.foreach { case (id, t) =>
        val ws = win(id)
        if (ws.nonEmpty || got.contains(id)) {
          assert(got(id)._1 === ws.size.toLong, s"seed=$seed doc $id windows")
          assert(got(id)._2 === ws.count(w => freq(w) >= 2).toLong,
            s"seed=$seed doc $id dup windows")
        }
      }
      // every planted doc reports duplicated windows
      (1L to 10L).foreach(i => assert(got(i)._2 >= 5L, s"seed=$seed planted $i"))
    }
  }

  test("two-star contraction == min-label propagation on random graphs " +
      "(chains, stars, isolated pairs mixed)") {
    import spark.implicits._
    for (seed <- Seq(13, 77)) {
      val rnd = new Random(seed)
      // mix shapes: random edges + a long chain (propagation's worst case)
      val randomEdges = (1 to 80).map { _ =>
        val a = rnd.nextInt(50).toLong; val b = rnd.nextInt(50).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2)
      val chain = (100L until 140L).map(i => (i, i + 1))
      val df = (randomEdges ++ chain).distinct.toDF("doc_a", "doc_b")
      val ts = Dedup.connectedComponentsTwoStar(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val lp = Dedup.connectedComponents(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(ts === lp, s"seed=$seed")
    }
  }
}
