package graft

import graft.ops.TextAnalysis

/** Text-analysis signals on strings with hand-computed statistics. */
class TextAnalysisSpec extends SparkSpec {

  private lazy val sfDir: String = {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "the cat, and the hat! of", "en", "s", 24L),
      (2L, "der und die nicht das der und", "de", "s", 29L),
      // 12 tokens incl stopwords so quality_keep can pass
      (3L, "the a of and to in is on the a of and", "en", "s", 37L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    dir
  }

  test("token stats: whitespace tokens and subword proxy counts") {
    val rows = TextAnalysis.tokenStats(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // doc1: "the cat, and the hat! of" = 24 chars, 6 ws-tokens,
    // subwords = 6 alnum runs + 2 symbols (, !) = 8
    assert(rows.head === (1L, 24L, 6L, 8L))
  }

  test("quality score: exact integer formula and keep flag") {
    val rows = TextAnalysis.qualityScore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6))).toMap2
    val (nTok, mwl, nPunct, nStop, keep) = rows(3L)
    assert(nTok === 12L)
    // 37 chars, 12 tokens: (37 - 11) * 1000 / 12 = 2166
    assert(mwl === 2166L)
    assert(nPunct === 0L)
    assert(nStop === 12L)
    assert(keep === true)
    val (_, _, punct1, stop1, keep1) = rows(1L)
    assert(punct1 === 2L) // ',' and '!'
    assert(stop1 === 4L)  // the, and, the, of
    assert(keep1 === false) // only 6 tokens < 10
  }

  test("language ID: stopword families pick the labeled language") {
    val rows = TextAnalysis.langId(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSeq
    assert(rows.find(_._1 == 2L).map(_._2) === Some("de"))
    assert(rows.find(_._1 == 2L).map(_._3) === Some(7L)) // der x2, und x2, die, nicht, das
    assert(rows.find(_._1 == 1L).map(_._2) === Some("en"))
  }

  test("fingerprints: md5 of normalized text plus h60 integer form") {
    val rows = TextAnalysis.fingerprints(spark, sfDir).collect()
    val r1 = rows.find(_.getLong(0) == 1L).get
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("the cat, and the hat! of".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r1.getString(1) === md)
    assert(r1.getLong(2) === java.lang.Long.parseLong(md.take(15), 16))
  }

  test("repetition score: exact repeated-shingle ratio in thousandths") {
    import spark.implicits._
    val dir = tempSfDir()
    // "a b c" x3: 9 tokens -> 7 shingles, 3 distinct -> rep = 4000/7 = 571
    writeTable(dir, "documents", Seq(
      (1L, "a b c a b c a b c", "en", "s", 17L),
      (2L, "x y z w", "en", "s", 7L), // 2 shingles, both distinct -> 0
      (3L, "one two", "en", "s", 7L)  // < 3 tokens -> excluded
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.repetitionScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows === Seq((1L, 7L, 3L, 571L), (2L, 2L, 2L, 0L)))
  }

  test("stratified split: hash buckets are exhaustive and match plain-Scala md5") {
    import spark.implicits._
    val dir = tempSfDir()
    val docs = (0L until 200L).map(i => (i, s"doc $i", "en", s"s${i % 3}", 6L))
    writeTable(dir, "documents", docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % 100
    }
    val expected = docs.map { case (id, _, _, src, _) =>
      val b = bucket(id)
      (src, if (b <= 97) "train" else if (b == 98) "val" else "test")
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = TextAnalysis.stratifiedSplit(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expected)
    assert(got.values.sum === 200L)
  }

  test("length quantiles: GK sketch lands inside the exact-quantile gate; median exact") {
    import spark.implicits._
    val dir = tempSfDir()
    // source sA: n_chars 10,20,...,250 (25 docs) -> exact median 130;
    // source sB: constant 7 -> every quantile 7
    val docs = (1L to 25L).map(i => (i, "t " * i.toInt, "en", "sA", i * 10)) ++
      (100L to 109L).map(i => (i, "x", "en", "sB", 7L))
    writeTable(dir, "documents", docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = TextAnalysis.lengthQuantiles(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    assert(got("sA") === ((25L, 130.0, true, true, true)))
    assert(got("sB") === ((10L, 7.0, true, true, true)))
  }

  test("tf-idf: exact-rational idf, score and tie ordering") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "apple banana apple", "en", "s", 18L),
      (2L, "banana cherry", "en", "s", 13L),
      (3L, "cherry banana banana", "en", "s", 20L),
      (4L, "date", "en", "s", 4L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // N=4; df: apple 1, banana 3, cherry 2, date 1
    // idf_milli: apple 4000, banana 1333, cherry 2000, date 4000
    val got = TextAnalysis.tfidfTopTerms(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got.filter(_._1 == 1L) === Seq(
      (1L, "apple", 2L, 1L, 8000L, 1L),     // 2 * 4000
      (1L, "banana", 1L, 3L, 1333L, 2L)))   // 1 * (4000 div 3)
    assert(got.filter(_._1 == 2L) === Seq(
      (2L, "cherry", 1L, 2L, 2000L, 1L),
      (2L, "banana", 1L, 3L, 1333L, 2L)))
    assert(got.filter(_._1 == 4L) === Seq((4L, "date", 1L, 1L, 4000L, 1L)))
  }

  test("bpe fertility equals the per-doc encode rolled up by language") {
    val langOf = Map(1L -> "en", 2L -> "de", 3L -> "en")
    val enc = graft.ops.TextAnalysis.bpeEncode(spark, sfDir).collect()
      .map(r => (langOf(r.getLong(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = enc.groupBy(_._1).map { case (lang, rows) =>
      val (w, s0, b) = (rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum)
      (lang, w, s0, b, 1000L * b / w, 1000L * b / s0)
    }.toSet
    val got = graft.ops.TextAnalysis.bpeFertility(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === expected)
    // fertility can never be below 1 token per word
    got.foreach { case (_, _, _, _, fert, _) => assert(fert >= 1000L) }
  }

  test("bm25: hand-computed integer Robertson scores, ranked") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "cat cat dog", "en", "s", 11L),
      (2L, "cat fish", "en", "s", 8L),
      (3L, "bird bird bird bird", "en", "s", 19L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // N=3, tot=9; df(cat)=2, df(dog)=1
    // idf_milli(cat) = (3*1000)//5 = 600; idf_milli(dog) = 5000//3 = 1666
    // tfn_milli = (22000*tf*9) // (90*tf + 27 + 27*dl)
    //   doc1 cat tf=2 dl=3: 396000//288 = 1375; dog tf=1: 198000//198 = 1000
    //   doc2 cat tf=1 dl=2: 198000//171 = 1157
    // doc1 = 600*1375 + 1666*1000 = 2491000; doc2 = 600*1157 = 694200
    val q = TextAnalysis.bm25TopK(spark, dir, queries = Seq(0L -> "cat dog"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "query-term dim must broadcast into the postings")
    assert(!plan.contains("Window"),
      "per-query top-k must be the bounded aggregate, not a window")
    val got = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq((0L, 1L, 2491000L, 1L), (0L, 2L, 694200L, 2L)))
  }

  test("bm25 indexed serving equals the inline scorer; scan is pruned to workload terms") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "cat cat dog", "en", "s", 11L),
      (2L, "cat fish", "en", "s", 8L),
      (3L, "bird bird bird bird", "en", "s", 19L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val q = Seq(0L -> "cat dog")
    val inline = graft.ops.TextAnalysis.bm25TopK(spark, dir, queries = q).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val stored = graft.ops.TextAnalysis.bm25Indexed(spark, dir, queries = q)
    val plan = stored.queryExecution.executedPlan.toString
    // serving reads the stored postings with the workload IN pushed to
    // the parquet scan (term-sorted buckets -> row-group skipping)
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"workload term filter must reach the index scan:\n$plan")
    val got = stored.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === inline)
    assert(got === Seq((0L, 1L, 2491000L, 1L), (0L, 2L, 694200L, 2L)))
  }

  test("bm25 serve width rebalance is conditional (VERDICT r15 #2)") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "cat cat dog", "en", "s", 11L),
      (2L, "cat fish", "en", "s", 8L),
      (3L, "bird bird bird bird", "en", "s", 19L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // off leg — the 1x reclaim: a small stored index must serve WITHOUT
    // the width exchange (r15's unconditional repartition cost text_bm25
    // 0.71 -> 1.30 s at sf0.1)
    val served = TextAnalysis.bm25Indexed(spark, dir, queries = Seq(0L -> "cat dog"))
    assert(!served.queryExecution.executedPlan.toString
      .contains("RoundRobinPartitioning"),
      "small store must not pay the serve-width exchange")
    // gate unit, both directions, on a controlled 1-file table (scan
    // width 1 < session width 4, so the size threshold decides)
    val name = "graft_test_rebalance_gate"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    (1 to 100).toDF("n").coalesce(1).write.saveAsTable(name)
    try {
      assert(!TextAnalysis.serveRebalance(spark, name),
        "a table below the default 64 MB threshold must not rebalance")
      assert(TextAnalysis.serveRebalance(spark, name, minBytes = 1),
        "a narrow scan past the size gate must rebalance to session width")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("hybrid rrf: lexical and semantic ranks fuse by exact integer reciprocal") {
    import spark.implicits._
    val dir = tempSfDir()
    // anchors (stride 2) = docs 0 and 2; ids parallel across tables
    writeTable(dir, "documents", Seq(
      (0L, "cat dog", "en", "s", 7L),
      (1L, "cat dog", "en", "s", 7L), // anchor 0's only lexical match
      (2L, "bird", "en", "s", 4L),    // no lexical neighbor at all
      (3L, "fish", "en", "s", 4L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    writeTable(dir, "embeddings", Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0f, 1f, 0f, 0f), 0),
      (2L, Seq(1f, 0f, 0f, 0f), 0), // cos(0,2) = 1000
      (3L, Seq(0f, 0f, 1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label"))
    val got = TextAnalysis.hybridRrf(spark, dir, k = 3, kList = 2, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // anchor 0: lex rk1 = doc1 (identical text; self excluded); sem rk1 =
    //   doc2 (cos 1000), rk2 = doc1 (cos-0 tie broken by id asc, doc3 cut
    //   at kList=2). doc1 = 1e6//61 + 1e6//62 = 16393 + 16129 = 32522;
    //   doc2 = 16393 (sem-only).
    // anchor 2: zero lexical candidates ('bird' appears nowhere else) —
    //   pure-semantic fallback: doc0 rk1 = 16393, doc1 rk2 = 16129.
    assert(got === Seq(
      (0L, 1L, 32522L, 1L), (0L, 2L, 16393L, 2L),
      (2L, 0L, 16393L, 1L), (2L, 1L, 16129L, 2L)))
    // IVF-probed form: with centroids {0, 2} and nprobe = 2 every cell
    // is probed, so the approximate ranking equals the exact one
    val ann = TextAnalysis.hybridRrfAnn(spark, dir, k = 3, kList = 2,
        stride = 2, centroidMod = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(ann === got)
  }

  test("bpe pair counts: word-frequency-weighted adjacent pairs, ranked") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "abc abc ab", "en", "s", 10L),
      (2L, "ABC x", "en", "s", 5L) // lowercases into abc; "x" has no pair
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // word freqs: abc 3, ab 1, x 1
    // pairs: "ab" = 3 (from abc) + 1 (from ab) = 4; "bc" = 3
    val got = TextAnalysis.bpePairCounts(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(("ab", 4L, 1L), ("bc", 3L, 2L)))
  }

  test("bpe train: m greedy merges with self-pair runs and exact tie-breaks") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "aaab aaab aab", "en", "s", 13L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // words: aaab x2, aab x1
    // r1: (a,a) = 2*2+1 = 5 beats (a,b) = 3 -> aaab = [aa,a,b], aab = [aa,b]
    //     (self-pair run "aaa" merges at alternating positions: only the
    //      FIRST aa pair applies, the third a stays single)
    // r2: (a,b) = 2 ties (aa,a) = 2 -> "a" < "aa" wins -> aaab = [aa,ab]
    // r3: (aa,ab) = 2 beats (aa,b) = 1
    val got = TextAnalysis.bpeTrain(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (1L, "a", "a", 5L),
      (2L, "a", "b", 2L),
      (3L, "aa", "ab", 2L)))
  }

  test("lm score: exact-rational mean bigram conditional per doc") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "a b a b", "en", "s", 7L),
      (2L, "a c", "en", "s", 3L),
      (3L, "solo", "en", "s", 4L) // no bigram -> excluded
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // corpus: "a b" x2, "b a" x1, "a c" x1; C(a .)=3, C(b .)=1
    // cond_milli: "a b"=666, "b a"=1000, "a c"=333
    // doc1 = (666+1000+666) div 3 = 777; doc2 = 333
    val got = TextAnalysis.lmScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 3L, 777L), (2L, 1L, 333L)))
  }

  test("kneser-ney: discounted ML + continuation mass, exact integers") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "a b a b", "en", "s", 7L),
      (2L, "a c", "en", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // types: "a b"(c12=2), "b a"(1), "a c"(1); T=3
    // w1=a: c_w1=3, n_fw=2; w1=b: c_w1=1, n_fw=1
    // n_bw = 1 for each of a, b, c
    // cond("a b") = 1000 div 3 + ((2000 div 3)*(1000 div 3)) div 1000
    //             = 333 + (666*333) div 1000 = 333 + 221 = 554
    // cond("b a") = 0 + ((1000 div 1)*(333)) div 1000 = 333
    // cond("a c") = 0 + 221 = 221
    // doc1 = (554+333+554) div 3 = 480; doc2 = 221
    val got = TextAnalysis.kneserNeyScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 3L, 480L), (2L, 1L, 221L)))
  }

  test("vocab coverage: class interpolation and ceil-need at the boundary") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "a a a a b b c d", "en", "s", 15L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // tf: a=4 b=2 c=1 d=1; classes (c desc): 4->1, 2->1, 1->2; T=8
    // p=50%: need ceil(4.0)=4 -> 1 type (a alone)
    // p=90%: need ceil(7.2)=8 -> all 4 types (7 of 8 is only 87.5%)
    val rows = TextAnalysis.coverageCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(rows === Seq(
      (500000L, 4L, 1L, 4L, 8L),
      (900000L, 8L, 4L, 4L, 8L),
      (990000L, 8L, 4L, 4L, 8L)))
  }

  test("gopher rules: each rule rejects exactly its constructed offender") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      // passes every rule
      (1L, "the a quick brown foxes jumps over lazy dogs every single day", "en", "s", 0L),
      // 5 words < 10 -> r_words fails, everything else passes
      (2L, "the a tiny doc here", "en", "s", 0L),
      // mean word length 14000/12 = 1166 milli < 3000 -> r_meanlen fails
      (3L, "a b c d e f g h i j the k", "en", "s", 0L),
      // 2 of 12 words alphabetic = 166 milli < 800 -> r_alpha fails
      (4L, "1111 2222 3333 4444 5555 6666 7777 8888 9999 0000 the a", "en", "s", 0L),
      // 40 '#' marks over 12 words = 3333 milli >= 100 -> r_symbol fails
      (5L, "the a " + Seq.fill(10)("word####").mkString(" "), "en", "s", 0L),
      // no stop words at all -> r_stop fails
      (6L, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.gopherRules(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
        r.getBoolean(9), r.getBoolean(10), r.getBoolean(11))).toMap
    assert(rows(1L) === ((true, true, true, true, true, true)))
    assert(rows(2L) === ((false, true, true, true, true, false)))
    assert(rows(3L) === ((true, false, true, true, true, false)))
    assert(rows(4L) === ((true, true, false, true, true, false)))
    assert(rows(5L) === ((true, true, true, false, true, false)))
    assert(rows(6L) === ((true, true, true, true, false, false)))
  }

  test("oov rate: frequency-cut vocabulary with token tie-break, exact milli rates") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "x x x y y z", "en", "s", 11L),
      (2L, "x q q", "en", "s", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // counts: x=4, q=2, y=2, z=1; top-2 cut ties q vs y by token asc -> {x, q}
    val rows = TextAnalysis.oovRate(spark, dir, vocabSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows === Seq((1L, 6L, 3L, 500L), (2L, 3L, 0L, 0L)))
  }

  test("quality report: per-source rejection mix — one offender per rule, one keeper") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "the a quick brown foxes jumps over lazy dogs every single day", "en", "s", 0L),
      (2L, "the a tiny doc here", "en", "s", 0L),
      (3L, "a b c d e f g h i j the k", "en", "s", 0L),
      (4L, "1111 2222 3333 4444 5555 6666 7777 8888 9999 0000 the a", "en", "s", 0L),
      (5L, "the a " + Seq.fill(10)("word####").mkString(" "), "en", "s", 0L),
      (6L, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = TextAnalysis.qualityReport(spark, dir).collect()
    assert(r.length === 1)
    val row = r.head
    // 6 docs, exactly one offender per rule -> every rejection rate is
    // floor(1000/6) = 166 milli; one keeper -> keep rate 166 too
    assert((row.getString(0), row.getLong(1)) === (("s", 6L)))
    assert((2 to 7).map(row.getLong) === Seq(166L, 166L, 166L, 166L, 166L, 166L))
  }

  test("pivot cross-tab: declared columns, zero-filled missing cells") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "x", "en", "sA", 1L), (2L, "x", "en", "sA", 1L),
      (3L, "x", "de", "sA", 1L), (4L, "x", "fr", "sB", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.langSourcePivot(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSeq
    // columns: source, n_en, n_de, n_es, n_fr, n_zh
    assert(rows === Seq(("sA", 2L, 1L, 0L), ("sB", 0L, 0L, 1L)))
  }

  test("tokenize: rank ids, OOV as 0, order-preserving sequence md5") {
    import spark.implicits._
    val dir = tempSfDir()
    // counts: x=3, y=2, z=1, q=1 -> vocab(k=2): x->1, y->2; z,q OOV
    writeTable(dir, "documents", Seq(
      (1L, "x x y z", "en", "s", 7L),
      (2L, "y x q", "en", "s", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = TextAnalysis.tokenizeDocs(spark, dir, vocabSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(rows === Seq(
      (1L, 4L, 1L, md5hex("1,1,2,0")),
      (2L, 3L, 1L, md5hex("2,1,0"))))
  }

  test("unpivot round-trip: stack of the pivot equals direct long counts") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "x", "en", "sA", 1L), (2L, "x", "en", "sA", 1L),
      (3L, "x", "de", "sA", 1L), (4L, "x", "fr", "sB", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.langSourceUnpivot(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // the pivot's zero cells (sA/es, sB/en, ...) are dropped, not emitted
    assert(rows === Seq(
      ("sA", "de", 1L), ("sA", "en", 2L), ("sB", "fr", 1L)))
  }

  test("ntile bands: equal-count quartiles with deterministic tie edges") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "x", "en", "s", 10L), (2L, "x", "en", "s", 20L),
      (3L, "x", "en", "s", 30L), (4L, "x", "en", "s", 40L),
      (5L, "x", "en", "s", 50L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.lengthNtileBands(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // ntile(4) over 5 rows: band 1 gets 2 rows, bands 2-4 one each
    assert(rows === Seq((1L, 2L, 10L, 20L), (2L, 1L, 30L, 30L),
      (3L, 1L, 40L, 40L), (4L, 1L, 50L, 50L)))
  }

  test("compression signal: boilerplate compresses harder, accounting exact, deterministic") {
    import spark.implicits._
    val dir = tempSfDir()
    val boiler = Seq.fill(60)("same words repeated").mkString(" ")
    val varied = (1 to 120).map(i => s"tok${i * 37 % 997}x$i").mkString(" ")
    writeTable(dir, "documents", Seq(
      (1L, boiler, "en", "s", boiler.length.toLong),
      (2L, varied, "en", "s", varied.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    def run() = TextAnalysis.compressionSignal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val got = run()
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 === boiler.length.toLong)
    assert(byId(1L)._4 === byId(1L)._3 * 1000L / byId(1L)._2) // accounting
    // the repeated text must compress MUCH harder than the varied text
    assert(byId(1L)._4 < byId(2L)._4 / 2,
      s"boilerplate ${byId(1L)._4} not << varied ${byId(2L)._4}")
    assert(got === run()) // deterministic across runs
    // partial consumption (limit abandons the partition iterators): the
    // task-completion listener owns Deflater release, so this neither
    // crashes nor changes what IS consumed
    val one = TextAnalysis.compressionSignal(spark, dir).limit(1).collect()
    assert(one.length === 1)
    assert(got.contains((one(0).getLong(0), one(0).getLong(1),
      one(0).getLong(2), one(0).getLong(3))))
  }

  test("compression gate: bound and subadditivity hold for empty, boilerplate, and incompressible docs") {
    import spark.implicits._
    val dir = tempSfDir()
    val boiler = Seq.fill(60)("same words repeated").mkString(" ")
    // LCG-scrambled chars: near-incompressible, stresses the stored-block bound
    val noisy = {
      var x = 123456789L
      (1 to 20000).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        (33 + math.floorMod(x >>> 33, 94)).toChar
      }.mkString
    }
    writeTable(dir, "documents", Seq(
      (1L, "", "en", "s", 0L),
      (2L, boiler, "en", "s", boiler.length.toLong),
      (3L, noisy, "en", "s", noisy.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.compressionGate(spark, dir).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_deflate_bound"), s"bound failed: $r")
      assert(r.getAs[Boolean]("repeat_subadditive"), s"subadditivity failed: $r")
    }
    assert(rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bytes")).toMap
      === Map(1L -> 0L, 2L -> boiler.length.toLong, 3L -> noisy.length.toLong))
  }

  test("scrub: deny-listed tokens mask out; audit counts and md5 are exact") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "spark is fast", "en", "s", 13L),
      (2L, "no denied words here", "en", "s", 20L),
      (3L, "customer  spark", "en", "s", 15L) // double space: empty token drops
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = TextAnalysis.scrubDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(rows === Seq(
      (1L, 3L, 1L, md5hex("[REDACTED] is fast")),
      (2L, 4L, 0L, md5hex("no denied words here")),
      (3L, 2L, 2L, md5hex("[REDACTED] [REDACTED]"))))
  }

  test("cascade: first failing rule takes the blame, in declared order") {
    import spark.implicits._
    val dir = tempSfDir()
    val good = "the cat and the hat sat on a mat of straw today friends" // passes gopher
    writeTable(dir, "documents", Seq(
      // fails lang AND words: lang (rule 1) must take the blame
      (1L, "kurz", "de", "s1", 4L),
      // en but 1 word: words (rule 2) fires before stop would
      (2L, "solo", "en", "s1", 4L),
      // en, >=10 words, no stopwords at all -> 6_stop
      (3L, (1 to 12).map(i => s"tok$i").mkString(" "), "en", "s2", 60L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.filterCascade(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq(
      ("s1", "1_lang", 1L), ("s1", "2_words", 1L), ("s2", "6_stop", 1L)))
  }

  test("classifier: score is the sum of md5-derived unigram weights, with multiplicity") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "alpha beta alpha", "en", "s", 16L),
      (2L, "", "en", "s", 0L) // empty doc: zero tokens, score 0, kept
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    def w(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w:$t".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 1001L - 500L
    }
    val want1 = 2 * w("alpha") + w("beta")
    val rows = TextAnalysis.classifierScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(rows === Seq(
      (1L, 3L, want1, want1 >= 0L),
      (2L, 0L, 0L, true)))
  }

  test("bpe encode: learned merges applied greedily, zero-shuffle plan") {
    import spark.implicits._
    val dir = tempSfDir()
    // vocab: abcd(freq 3), abce(1). Merges: r1 (a,b) [cnt 4, tie with
    // (b,c) broken by pl asc], r2 (ab,c) [4], r3 (abc,d) [3].
    // abcd -> [abcd] (1 token), abce -> [abc, e] (2 tokens)
    writeTable(dir, "documents", Seq(
      (1L, "abcd abcd abcd", "en", "s", 14L),
      (2L, "abce", "en", "s", 4L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val df = TextAnalysis.bpeEncode(spark, dir)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(rows === Seq(
      (1L, 3L, 12L, 3L, 250L),
      (2L, 1L, 4L, 2L, 500L)))
    // the encode pass itself is a narrow projection: no join, no
    // aggregate exchange — the only exchange is the output sort's
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("rule agreement: matrix counts equal the joined per-doc signal frames") {
    import spark.implicits._
    val dir = tempSfDir()
    // spread across agree/disagree cells: stopword-free prose, dense
    // stopwords, short docs, symbol-heavy docs
    writeTable(dir, "documents", Seq(
      (1L, "the cat sat on the mat and the dog sat too", "en", "s", 42L),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 56L),
      (3L, "short doc", "en", "s", 9L),
      (4L, "the a of and to in is on the a of and", "en", "s", 37L),
      (5L, "symbols ### everywhere ### in ### this ### doc ### here ### now", "en", "s", 63L),
      (6L, "a reasonable sentence with the usual mix of words in it", "en", "s", 55L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // expected flags from the three ORACLE-PINNED per-doc queries
    val g = TextAnalysis.gopherRules(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    val c = TextAnalysis.classifierScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val q = TextAnalysis.qualityScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    def cells(a: Map[Long, Boolean], b: Map[Long, Boolean]) = {
      val ids = a.keySet
      (ids.count(i => a(i) && b(i)).toLong, ids.count(i => a(i) && !b(i)).toLong,
        ids.count(i => !a(i) && b(i)).toLong, ids.count(i => !a(i) && !b(i)).toLong)
    }
    val expected = Map(
      ("classifier", "quality") -> cells(c, q),
      ("gopher", "classifier") -> cells(g, c),
      ("gopher", "quality") -> cells(g, q))
    val rows = TextAnalysis.ruleAgreement(spark, dir).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      expected.keys.toSeq.sorted)
    rows.foreach { r =>
      val (n11, n10, n01, n00) = expected((r.getString(0), r.getString(1)))
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
        ((n11, n10, n01, n00)), s"cells for ${r.getString(0)}/${r.getString(1)}")
      assert(r.getLong(6) === 1000L * (n11 + n00) / (n11 + n10 + n01 + n00))
      if (n11 + n10 + n01 > 0)
        assert(r.getLong(7) === 1000L * n11 / (n11 + n10 + n01))
      else assert(r.isNullAt(7))
    }
    // at least one disagreeing pair exists in this corpus, so the
    // audit is not trivially diagonal
    assert(rows.exists(r => r.getLong(3) + r.getLong(4) > 0))
  }

  test("pii: detect counts and masked md5 on hand-built contacts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at bob.smith@corp.io or 555-1234 thanks"),
      (2L, "server at 10.0.255.3 and backup 192.168.1.77"),
      (3L, "no contact info here at all"),
      (4L, "a@b.co next to 1.2.3.4 call 555-0000")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.piiFrame(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).sortBy(_._1)
    assert(rows.map(t => (t._1, t._2, t._3, t._4, t._5)) === Seq(
      (1L, 1L, 1L, 0L, 2L), (2L, 0L, 0L, 2L, 2L),
      (3L, 0L, 0L, 0L, 0L), (4L, 1L, 1L, 1L, 3L)))
    assert(rows(0)._6 === md5Hex("reach me at <EMAIL> or <PHONE> thanks"))
    assert(rows(2)._6 === md5Hex("no contact info here at all"))
    assert(rows(3)._6 === md5Hex("<EMAIL> next to <IP> call <PHONE>"))
  }

  test("pii: injected fixture plants kinds by doc_id residues") {
    import spark.implicits._
    // 105 = 3*5*7 gains all three kinds; 11 gains none
    val docs = Seq((105L, "base"), (11L, "plain")).toDF("doc_id", "text")
    val rows = TextAnalysis.piiFrame(TextAnalysis.piiInjected(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).sortBy(_._1)
    assert(rows.map(t => (t._1, t._2, t._3, t._4, t._5)) ===
      Seq((11L, 0L, 0L, 0L, 0L), (105L, 1L, 1L, 1L, 3L)))
    // 105*7919 % 10000 = 1495; 105%256=105, 105*31%256=183, 105*17%256=249
    assert(rows(1)._6 === md5Hex("base contact <EMAIL> call <PHONE> host <IP>"))
    assert(rows(0)._6 === md5Hex("plain"))
  }

  test("vocab growth: new types per bucket and cumulative sums") {
    import spark.implicits._
    val dir = tempSfDir()
    // max_id 9, 10 buckets -> bucket == doc_id; buckets 2..8 are empty
    writeTable(dir, "documents", Seq(
      (0L, "a b a", "en", "s", 5L),
      (1L, "b c", "en", "s", 3L),
      (9L, "a d", "en", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.vocabGrowth(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(rows === Seq(
      (0L, 3L, 2L, 3L, 2L),   // types a,b
      (1L, 2L, 1L, 5L, 3L),   // new type c
      (9L, 2L, 1L, 7L, 4L)))  // new type d (a already seen)
  }

  test("split leakage: planted cross-split duplicates are counted per pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // recover the hash-split assignment to plant duplicates knowingly
    val ids = (1L to 2000L).toDF("doc_id")
      .select(col("doc_id"),
        (graft.functions.OracleHash.h60(col("doc_id").cast("string")) % 100).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val trainIds = ids.filter(_._2 <= 97).map(_._1)
    val valId = ids.find(_._2 == 98).get._1
    val testId = ids.find(_._2 == 99).get._1
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (trainIds(0), "dup A", "en", "s", 5L),
      (valId, "dup A", "en", "s", 5L),       // train<->val leak
      (trainIds(1), "dup B", "en", "s", 5L),
      (testId, "dup B", "en", "s", 5L),      // train<->test leak
      (trainIds(2), "clean", "en", "s", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.splitLeakage(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq(
      ("train_test", 1L, 1L), ("train_val", 1L, 1L), ("val_test", 0L, 0L)))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private implicit class MapOps(
      rows: Array[(Long, Long, Long, Long, Long, Boolean)]) {
    def toMap2: Map[Long, (Long, Long, Long, Long, Boolean)] =
      rows.map(t => t._1 -> ((t._2, t._3, t._4, t._5, t._6))).toMap
  }

  test("holdout LM: add-one smoothing covers unseen bigrams, coverage surfaced") {
    import spark.implicits._
    val dir = tempSfDir()
    // train (1, 2): unigrams a:2 b:3 c:1 -> V=3; bigrams ab:2 ba:1 bc:1
    // val (10): "a b" seen -> (1000*3)//(2+3)=600; "b z" unseen ->
    // (1000*1)//(3+3)=166; mean 383
    writeTable(dir, "documents", Seq(
      (1L, "a b a b", "en", "s", 7L),
      (2L, "b c", "en", "s", 3L),
      (10L, "a b z", "en", "s", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.lmHoldout(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows === Seq((10L, 2L, 1L, 383L)))
  }

  test("pmi collocations: exact integral lift ranking, hand-computed") {
    import spark.implicits._
    val dir = tempSfDir()
    // tokens x3 y3 z2 -> N1=8; bigrams xy:3 yx:2 zz:1 -> N2=6
    writeTable(dir, "documents", Seq(
      (1L, "x y x y x y", "en", "s", 11L),
      (2L, "z z", "en", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = TextAnalysis.pmiCollocations(spark, dir, minCount = 1, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // lift_micro = c12*64*1e6 // (6*c1*c2): xy 192e6//54 = 3555555,
    // zz 64e6//24 = 2666666, yx 128e6//54 = 2370370
    assert(rows === Seq(
      ("x", "y", 3L, 3L, 3L, 3555555L),
      ("z", "z", 1L, 2L, 2L, 2666666L),
      ("y", "x", 2L, 3L, 3L, 2370370L)))
  }

  test("trained classifier: LMS distillation learns the stopword gate") {
    val dir = "/root/testdata/sf0.001"
    val rows = TextAnalysis.classifierTrain(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(rows.size === TextAnalysis.classifierIters * TextAnalysis.classifierDims)
    // the label IS a threshold on the stopword fraction (dim 0): the
    // trained weight on that coordinate must come out positive, and the
    // bias (dim 8) must be positive (the corpus keeps most docs)
    val last = TextAnalysis.classifierIters.toLong
    assert(rows((last, 0L)) > 0L, "stopword-signal weight should be positive")
    assert(rows((last, 8L)) > 0L, "bias should be positive")
    // squared loss decreases from the first iterate to the last: score
    // both weight vectors over the same feature frame and compare SSE
    import org.apache.spark.sql.functions._
    val feats =
      TextAnalysis.classifierFeatures(GraftSession.table(spark, dir, "documents"))
    def sse(it: Long): Double = {
      val pred = (0 until TextAnalysis.classifierDims)
        .map(d => lit(rows((it, d.toLong))) * col(s"f$d")).reduce(_ + _) / 1000000.0
      feats.select(sum(org.apache.spark.sql.functions.pow(pred - col("y"), 2)))
        .head().getDouble(0)
    }
    assert(sse(last) < sse(1L), "training should reduce squared loss")
  }

  test("classifier auc: trained scorer ranks the rule label far above chance") {
    val r = TextAnalysis.classifierAuc(spark, "/root/testdata/sf0.001").head()
    val Seq(n, nPos, nNeg, tp, fp, fn, tn) =
      (0 to 6).map(i => r.getLong(i))
    assert(n === nPos + nNeg)
    assert(tp + fn === nPos)
    assert(fp + tn === nNeg)
    assert(nPos > 0 && nNeg > 0, "harness corpus must carry both classes")
    val auc = r.getLong(8)
    assert(auc > 800000L && auc <= 1000000L,
      s"distilled scorer should rank the rule label near-perfectly, got $auc ppm")
  }

  test("classifier pr sweep: recall falls monotonically with the threshold") {
    val rows = TextAnalysis.classifierPr(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 11)
    assert(rows.map(_.getLong(0)).toSeq === (0L to 1000L by 100L))
    val nPos = rows.head.getLong(1) + rows.head.getLong(3) // tp + fn constant
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(3) === nPos)
      Seq(5, 6).foreach { i =>
        if (!r.isNullAt(i))
          assert(r.getLong(i) >= 0L && r.getLong(i) <= 1000L)
      }
    }
    val recalls = rows.map(r => if (r.isNullAt(6)) 0L else r.getLong(6)).toSeq
    assert(recalls === recalls.sorted.reverse, "recall must not rise with tau")
  }
}
