package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.UrlCount

/** Reference-parity tests in the style of the reference's golden-oracle
  * suite (/root/reference/src/mapreduce/test_test.go:46-86): deterministic
  * synthetic input, expected output computed independently in plain Scala,
  * engine output compared exactly.
  */
class UrlCountSpec extends SparkSpec {

  /** Go strings.FieldsFunc(s, r == ' ') reimplemented independently —
    * the tokenizer contract of the reference mapF
    * (/root/reference/src/main/main.go:24-26): split on spaces, DROP
    * empty fields.
    */
  private def goFieldsSpace(s: String): Seq[String] =
    s.split(" ", -1).toSeq.filter(_.nonEmpty)

  test("golden oracle: token counts match an independently computed Map") {
    import spark.implicits._
    // deterministic corpus like the reference's makeInputs (numbers,
    // repeated with varying frequency), one "file" per row
    val lines = (0 until 200).map { i =>
      (0 to i % 7).map(j => s"tok${(i + j) % 23}").mkString(" ")
    }
    val expected: Map[String, Long] = lines
      .flatMap(goFieldsSpace)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = UrlCount
      .tokenCounts(lines.toDF("text"), "text")
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.toMap === expected)
    // and the presentation order is total: sorted by token
    assert(got.map(_._1).toSeq === got.map(_._1).toSeq.sorted)
  }

  test("tokenizer parity: Spark tokens == Go FieldsFunc semantics (generated lines)") {
    import spark.implicits._
    // generated strings over a hostile alphabet: multi-space runs,
    // leading/trailing separators, empty strings (ScalaCheck Gen with
    // fixed seeds so the corpus is deterministic)
    val genLine: Gen[String] =
      Gen.listOf(Gen.oneOf("a", "bb", "ccc", " ", "  ", "")).map(_.mkString)
    val generated = (0 until 300).flatMap { i =>
      genLine.apply(Gen.Parameters.default, Seed(i.toLong))
    }
    val lines = generated ++ Seq("", " ", "  ", "a", " a", "a ", " a  b ")
    val expected = lines.flatMap(goFieldsSpace)
    // single-partition frame: collect order == row order == intra-row order
    val got = UrlCount.tokens(
      spark.createDataset(lines).repartition(1).toDF("text"), "text")
      .as[String].collect().toSeq
    assert(got.sorted === expected.sorted)
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ===
      expected.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("top-K tie-break is deterministic: count desc, then token asc") {
    import spark.implicits._
    // b and c tie at 2; a has 3
    val df = Seq("a a a b b c c").toDF("text")
    val top = UrlCount.topK(df, "text", 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top === Seq(("a", 3L), ("b", 2L)))
    val top3 = UrlCount.topK(df, "text", 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top3 === Seq(("a", 3L), ("b", 2L), ("c", 2L)))
  }

  test("distinct tokens (reference test job O10): whitespace split, sorted set") {
    import spark.implicits._
    val df = Seq("z  a\tb", "b a", "").toDF("text")
    val got = UrlCount.distinctTokens(df, "text").as[String].collect().toSeq
    assert(got === Seq("a", "b", "z"))
  }

  test("merged text sink emits 'key: value' lines globally sorted by key (O8)") {
    import spark.implicits._
    val counts = Seq(("b", 2L), ("a", 1L)).toDF("token", "cnt")
    val lines = UrlCount.mergedLines(counts).as[String].collect().toSeq
    assert(lines === Seq("a: 1", "b: 2"))
  }

  test("JSON sink round-trips the reduce output (O7, common_reduce.go:43-54)") {
    import spark.implicits._
    val counts = UrlCount.tokenCounts(Seq("a b a", "b a").toDF("text"), "text")
    val dir = SparkSpec.tempDir("graft-json-sink")
    UrlCount.writeJsonSink(counts, dir, singleFile = true)
    val back = spark.read.json(dir).select("token", "cnt")
      .as[(String, Long)].collect().toMap
    assert(back === Map("a" -> 3L, "b" -> 2L))
  }

  test("approx distinct (HLL++) lands within tolerance of the exact count") {
    import spark.implicits._
    val lines = (0 until 500).map(i => s"u${i % 137} u${i % 71}")
    val got = UrlCount.approxDistinctTokens(lines.toDF("text"), "text").collect()
    assert(got.length === 1)
    assert(got(0).getLong(0) === 137L) // exact distinct: u0..u136
    assert(got(0).getBoolean(1), "HLL++ estimate outside 5% of exact")
  }

  test("CMS heavy hitters: exact counts surfaced, estimates inside the gate") {
    import spark.implicits._
    val lines = (0 until 300).map(i => s"hot t${i % 97}") // "hot" x300, tail x~3
    val got = UrlCount.cmsHeavyHitters(lines.toDF("text"), "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(got.map(_._1).contains("hot"))
    assert(got.find(_._1 == "hot").get._2 === 300L)
    assert(got.forall(_._3), s"CMS estimate outside 5%: ${got.mkString(",")}")
    // the SQL-surface estimator reads the same sketch the aggregate wrote
    lines.toDF("text").createOrReplaceTempView("cms_in")
    val est = spark.sql(
      """SELECT graft_cms_estimate(
        |  (SELECT count_min_sketch(t, 0.0001d, 0.99d, 42)
        |   FROM (SELECT explode(split(text, ' ')) AS t FROM cms_in)),
        |  'hot') AS e""".stripMargin).collect()(0).getLong(0)
    assert(est === 300L) // tiny corpus: no collisions, estimate exact
  }

  test("frequency-of-frequencies: Zipf audit rollup") {
    import spark.implicits._
    // counts: a=3, b=2, c=2, d=1 -> fof: (1,1), (2,2), (3,1)
    val got = UrlCount.freqOfFreqs(Seq("a a a b b", "c c d").toDF("text"), "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 1L), (2L, 2L), (3L, 1L)))
  }

  test("url canonicalization: scheme/www/query rules and tracking audit") {
    import spark.implicits._
    val dir = tempSfDir()
    // id 6: HTTPS+WWW+utm (tracked); id 1: http, plain ?id; id 3: www, no utm
    writeTable(dir, "documents", Seq(
      (6L, "x", "en", "srcA", 1L),
      (1L, "x", "en", "srcA", 1L),
      (3L, "x", "en", "srcB", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = UrlCount.canonicalHosts(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows === Seq(
      ("srca.example.com", 2L, 2L, 1L),   // pages /p/6 and /p/1
      ("srcb.example.com", 1L, 1L, 0L)))
  }
}
