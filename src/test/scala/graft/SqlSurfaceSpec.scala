package graft

import graft.functions.{MinHashSketch, OracleHash, ShingleColumns}
import org.apache.spark.sql.functions._

/** The SQL surface (GraftExtensions): every graft_* function invocable
  * from spark.sql, equivalent to its Column-API twin, with literal-arg
  * misuse failing loudly. The shared test session is built through
  * GraftSession.build, so the session-build injection path is what's
  * under test; building again on the live session gets its own case.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("graft_h60 matches OracleHash.h60") {
    val viaSql = spark.sql("SELECT graft_h60('abc') AS h").collect()(0).getLong(0)
    val viaCol = spark.range(1).select(OracleHash.h60(lit("abc")).as("h"))
      .collect()(0).getLong(0)
    assert(viaSql === viaCol)
  }

  test("graft_dot is the sequential dot product") {
    val v = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(v === 11.0)
  }

  test("graft_word_shingles matches the Column twin, n literal honored") {
    val viaSql = spark.sql("SELECT graft_word_shingles('A b c d', 2) AS sh")
      .collect()(0).getSeq[String](0)
    assert(viaSql === Seq("a b", "b c", "c d"))
    val via3 = spark.sql("SELECT graft_word_shingles('a b c d') AS sh")
      .collect()(0).getSeq[String](0)
    assert(via3 === Seq("a b c", "b c d"))
  }

  test("graft_minhash_sketch aggregate equals the Column-API sketch") {
    import spark.implicits._
    val df = Seq((1L, "aa"), (1L, "bb"), (2L, "cc")).toDF("id", "v")
    df.createOrReplaceTempView("sketch_in")
    val viaSql = spark.sql(
      "SELECT id, graft_minhash_sketch(v, 4) AS sk FROM sketch_in GROUP BY id ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val viaCol = df.groupBy("id").agg(MinHashSketch.sketch(col("v"), 4).as("sk"))
      .orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(viaSql.toSeq === viaCol.toSeq)
  }

  test("graft_minhash_array matches the per-row Column twin") {
    import spark.implicits._
    val df = Seq("x y z w").toDF("t")
    df.createOrReplaceTempView("mh_in")
    val viaSql = spark.sql(
      "SELECT graft_minhash_array(graft_word_shingles(t, 2), 8) AS mh FROM mh_in")
      .collect()(0).getSeq[Long](0)
    val viaCol = df.select(
      ShingleColumns.minhashArray(ShingleColumns.wordShingles(col("t"), 2), 8).as("mh"))
      .collect()(0).getSeq[Long](0)
    assert(viaSql === viaCol)
  }

  test("non-literal sizing argument fails analysis instead of defaulting") {
    import spark.implicits._
    Seq((1, "a b c")).toDF("k", "t").createOrReplaceTempView("bad_in")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_word_shingles(t, k) FROM bad_in").collect()
    }
    assert(e.getMessage.contains("INTEGER literal"))
  }

  test("a built session resolves every graft_* function and holds the tokenizer rule once") {
    GraftExtensions.functions.foreach { case (name, _, _) =>
      assert(spark.catalog.functionExists(name), s"$name does not resolve")
    }
    val optimizer = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.optimizer
    val copies = optimizer.batches
      .map(b => b.name -> b.rules.count(_ eq graft.plans.TokenizeRewrite))
      .filter(_._2 > 0)
    // an injected rule joins both operator-optimization batches, once
    // each; a second, live-registered copy would add a "User Provided
    // Optimizers" entry and run the rule twice per query
    assert(copies === Seq("Operator Optimization before Inferring Filters" -> 1,
      "Operator Optimization after Inferring Filters" -> 1))
  }

  test("live-session register is idempotent and equivalent") {
    val before = spark.sql("SELECT graft_h60('abc') AS h").collect()(0).getLong(0)
    // building again while the session is live reaches the same session;
    // the surface it registered must neither change nor grow a second
    // copy of the rule
    val again = GraftSession.build("graft-test", "local[4]", shufflePartitions = 4)
    assert(again eq spark)
    val optimizer = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.optimizer
    assert(optimizer.batches.map(_.rules.count(_ eq graft.plans.TokenizeRewrite)).sum === 2)
    assert(spark.experimental.extraOptimizations.isEmpty)
    val after = again.sql("SELECT graft_h60('abc') AS h").collect()(0).getLong(0)
    val viaCol = spark.range(1).select(OracleHash.h60(lit("abc")).as("h"))
      .collect()(0).getLong(0)
    assert(before === viaCol)
    assert(after === viaCol)
  }

  test("building the sql_* queries leaves the session's optimizer rules alone") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq((1L, "a b c d")).toDF("doc_id", "text"))
    writeTable(dir, "embeddings", Seq((1L, Seq(0.5f, 1f))).toDF("vec_id", "embedding"))
    writeTable(dir, "events", Seq((1L, 0L, "view")).toDF("event_id", "ts", "event_type"))
    val fresh = spark.newSession()
    val names = SparkEntry.queries.keys.filter(_.startsWith("sql_")).toSeq.sorted
    assert(names.size === 6)
    names.foreach(n => SparkEntry.queries(n)(fresh, dir))
    // the rewrite is injected at build; a second, experimental copy would
    // run the rule twice in every later query of the session
    assert(fresh.experimental.extraOptimizations.isEmpty)
  }
}
