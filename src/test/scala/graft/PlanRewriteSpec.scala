package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.util.Random

import graft.functions.{SplitTokens, TokenCount, Tokenizer}
import graft.plans.TokenizeRewrite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayFilter,
  AttributeReference, GreaterThan, LambdaFunction, Length, Literal,
  NamedLambdaVariable, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** TokenizeRewrite: the tokenizer idiom rewrites to the native
  * split_tokens / token_count expressions with byte-identical results,
  * and every guard holds its line.
  */
class PlanRewriteSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val idiomSeps = Seq(" ", "\\s+", "[^a-zA-Z0-9]+")

  test("countTokens equals split-filter-size on edge cases and random strings") {
    val edge = Seq("", " ", "   ", "a", " a", "a ", " a ", "a b", "a  b ",
      "\t a\nb ", "..a!!b..", "ab12 cd", "..", "aé b中 c")
    val rnd = new scala.util.Random(42)
    val alphabet = "ab .\t\n!2é中"
    val random = Seq.fill(300)(
      Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    for (s <- edge ++ random; sep <- idiomSeps) {
      val expected = s.split(sep, -1).count(_.nonEmpty)
      val actual = TokenCount.countTokens(UTF8String.fromString(s), sep)
      assert(actual === expected, s"string=${s.replace("\n", "\\n")} sep=$sep")
    }
  }

  test("the idiom rewrites to token_count and keeps its values") {
    import spark.implicits._
    // parquet-backed: a LocalRelation is whole-plan constant-folded into
    // a LocalTableScan before any plan inspection could see the rewrite
    val dir = tempSfDir()
    Seq((0L, " a  b "), (1L, ""), (2L, "one two\tthree"), (3L, null))
      .toDF("id", "t").write.parquet(s"$dir/toks.parquet")
    val df = spark.read.parquet(s"$dir/toks.parquet").orderBy("id")
      .select(col("t"),
        size(filter(split(col("t"), "\\s+"), x => length(x) > 0)).as("n"))
    assert(planOf(df).contains("token_count"),
      s"rewrite did not fire:\n${planOf(df)}")
    val got = df.collect().map(r => if (r.isNullAt(1)) null else r.getInt(1))
    assert(got.toSeq === Seq(2, 0, 3, null))
  }

  test("tokenStats runs through the native expression, oracle values intact") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "a b  c", "en", "src0", 6L),
      (2L, "", "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val stats = ops.TextAnalysis.tokenStats(spark, dir)
    assert(planOf(stats).contains("token_count"))
    val rows = stats.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.toSeq === Seq((1L, 3L), (2L, 0L)))
  }

  test("the pure-SQL surface (sql_tokencount) rewrites to token_count too") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "a b  c", "en", "src0", 6L),
      (2L, "", "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val df = SparkEntry.queries("sql_tokencount")(spark, dir)
    assert(planOf(df).contains("token_count"),
      s"SQL-surface rewrite did not fire:\n${planOf(df)}")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.toSeq === Seq((1L, 3L), (2L, 0L)))
  }

  test("non-idiom lambdas and zero-width separators are left alone") {
    import spark.implicits._
    val dir = tempSfDir()
    Seq((0L, "a b"), (1L, "axbXc")).toDF("id", "t").write.parquet(s"$dir/t.parquet")
    val t = spark.read.parquet(s"$dir/t.parquet").orderBy("id")
    val cases = Seq(
      "isin lambda" -> filter(split(col("t"), " "), x => x.isin(lit("a"))),
      "length >= 1" -> filter(split(col("t"), " "), x => length(x) >= 1),
      "zero-width" -> filter(split(col("t"), "x*"), x => length(x) > 0),
      "limit 2" -> filter(split(col("t"), " ", 2), x => length(x) > 0),
      "collated" -> filter(split(collate(col("t"), "UTF8_LCASE"), "x"), x => length(x) > 0))
    for ((name, arr) <- cases) {
      def df = t.select(arr.as("a"), size(arr).as("n"))
      val plan = optimized(df)
      assert(plan.contains("split(") && !plan.contains("split_tokens") &&
        !plan.contains("token_count"), s"$name:\n$plan")
      val stock = withoutRule(df.collect().toSeq)
      assert(df.collect().toSeq === stock, name)
    }
    // isin keeps "a" of "a b"; limit 2 keeps "a" and "b"; the collated
    // split matches the separator of "axbXc" case-insensitively
    val sizes = t.select(Seq(0, 3, 4).map(i => size(cases(i)._2)): _*).collect()
      .map(r => Seq(r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(sizes === Seq(Seq(1, 2, 1), Seq(0, 1, 3)))
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withoutRule[T](body: => T): T =
    withConf("spark.sql.optimizer.excludedRules" -> TokenizeRewrite.ruleName)(body)

  private def optimized(df: DataFrame): String = df.queryExecution.optimizedPlan.toString

  private def bytes(ints: Int*): Array[Byte] = ints.map(_.toByte).toArray

  test("validUtf8 agrees with Java's UTF-8 decoder") {
    def check(b: Array[Byte]): Unit = {
      val roundTrips = java.util.Arrays.equals(new String(b, UTF_8).getBytes(UTF_8), b)
      assert(Tokenizer.validUtf8(UTF8String.fromBytes(b)) === roundTrips,
        b.map(x => f"${x & 0xff}%02x").mkString(" "))
    }
    for (x <- 0 until 256; y <- -1 until 256)
      check(if (y < 0) bytes(x) else bytes(x, y))
    val edges = Seq(0x00, 0x20, 0x7f, 0x80, 0x8f, 0x90, 0x9f, 0xa0, 0xbf, 0xc0,
      0xc1, 0xc2, 0xdf, 0xe0, 0xe1, 0xec, 0xed, 0xee, 0xef, 0xf0, 0xf1, 0xf3,
      0xf4, 0xf5, 0xff)
    val rnd = new Random(7)
    for (_ <- 1 to 20000)
      check(Array.fill(3 + rnd.nextInt(5))(
        (if (rnd.nextBoolean()) edges(rnd.nextInt(edges.size)) else rnd.nextInt(256)).toByte))
  }

  test("the byte table cuts the same fields as the stock split for every ASCII form") {
    val forms = (0 until 128).map(_.toChar.toString).flatMap(c => Seq(c, c + "+")) ++
      Seq("\\s", "\\s+")
    val tabled = forms.filter(Tokenizer.byteTable(_) != null)
    // every ASCII char but the 14 regex metacharacters, alone and in runs
    assert(tabled.size === 2 * (128 - 14) + 2)
    val alphabet = (0 until 128).map(_.toChar.toString) ++ Seq("é", "中", "\uD83D\uDE00")
    val rnd = new Random(11)
    for (sep <- tabled; _ <- 1 to 20) {
      val s = Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.size))).mkString
      val u = UTF8String.fromString(s)
      val expected = u.split(UTF8String.fromString(sep), -1).filter(_.numBytes > 0).toSeq
      val tok = new Tokenizer(sep)
      assert(tok.split(u).toArray[UTF8String](StringType).toSeq === expected, s"sep=$sep")
      assert(tok.count(u) === expected.size, s"sep=$sep")
    }
  }

  test("split_tokens and token_count equal the stock idiom byte for byte, " +
      "interpreted and codegen'd") {
    import spark.implicits._
    // the byte-table forms, then two separators of the matcher path
    val seps = Seq(" ", ",", "\t", "\\s", "\\s+", " +", "[^a-zA-Z0-9]+", "\\|")
    val edge = Seq("", " ", "   ", "a", " a", "a ", " a  b  ", ",,a,,b,,", "|a||b|",
      "\ta\t\tb\t", "a\tb\nc\u000bd\fe\rf", "é b中 c\uD83D\uDE00d", "\uD83D\uDE00 \uD83D\uDE00",
      "中,中|é", "..a!!b..", "ab12 cd").map(_.getBytes(UTF_8))
    val invalid = Seq(bytes(0x61, 0xc3, 0x20, 0x62), bytes(0xff, 0x20, 0xfe),
      bytes(0xe4, 0xb8, 0x20, 0x7c), bytes(0xed, 0xa0, 0x80, 0x09, 0x61),
      bytes(0xf0, 0x9f, 0x98), bytes(0xc0, 0xaf, 0x2c, 0x2c, 0x80))
    val alphabet = Seq("a", "b", "Z", "9", " ", ",", "|", ".", "\t", "\n", "\u000b", "\f",
      "\r", "-", "é", "中", "\uD83D\uDE00")
    val rnd = new Random(42)
    val random = Seq.fill(300)(Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.size)))
      .mkString.getBytes(UTF_8))
    val rows = (null +: (edge ++ invalid ++ random)).zipWithIndex
      .map { case (b, i) => (i.toLong, b) }
    val dir = tempSfDir()
    rows.toDF("id", "bin").write.parquet(s"$dir/text.parquet")
    val src = spark.read.parquet(s"$dir/text.parquet")
      .select(col("id"), col("bin").cast("string").as("text"))
    // the invalid rows reach the tokenizer as their raw bytes
    val raw = src.filter(col("id") === edge.size + 1).select(col("text").cast("binary"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(raw.toSeq === invalid.head.toSeq)

    // fresh frames per run: a frame keeps the plan of its first optimization
    def idiom(sep: String) = filter(split(col("text"), sep), t => length(t) > 0)
    def counts = seps.zipWithIndex.map { case (sep, i) =>
      src.select(col("id"), lit(i).as("sep"), size(idiom(sep)).as("n"))
    }.reduce(_ union _)
    def fields = seps.zipWithIndex.map { case (sep, i) =>
      src.select(col("id"), lit(i).as("sep"), posexplode(idiom(sep)))
        .select(col("id"), col("sep"), col("pos"), hex(col("col")).as("hex"))
    }.reduce(_ union _)
    def countRows(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))
      .sorted
    def fieldRows(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).sorted

    val modes = Seq(
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
    for ((mode, confs) <- modes) withConf(confs: _*) {
      val (stockCounts, stockFields) = withoutRule {
        assert(optimized(counts).contains("split("), s"$mode: rule not excluded")
        (countRows(counts), fieldRows(fields))
      }
      val (c, f) = (counts, fields)
      assert(optimized(c).contains("token_count") && !optimized(c).contains("split("))
      assert(optimized(f).contains("split_tokens") && !optimized(f).contains("split("))
      assert(countRows(c) === stockCounts, mode)
      assert(fieldRows(f) === stockFields, mode)
      assert(planOf(f).contains("*(") === (mode == "codegen"), planOf(f))
      assert(stockCounts.size === rows.size * seps.size)
      assert(stockFields.nonEmpty)
    }
  }

  test("every urlcount query, sql_cms and sql_tokencount leaves no split( in its optimized plan") {
    import spark.implicits._
    val dir = tempSfDir()
    writeTable(dir, "documents", Seq(
      (1L, "a b  a", "en", "src0", 6L),
      (2L, " b c ", "en", "src1", 5L),
      (3L, "", "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val names = SparkEntry.queries.keys.filter(_.startsWith("urlcount_")).toSeq.sorted ++
      Seq("sql_cms", "sql_tokencount")
    assert(names.size === 11)
    for (n <- names) {
      val plan = optimized(SparkEntry.queries(n)(spark, dir))
      assert(!plan.contains("split("), s"$n:\n$plan")
      assert(plan.contains("token_count") === (n == "sql_tokencount"), s"$n:\n$plan")
    }
    // the sketch runs over the distinct tokens, not inside a distinct aggregate
    assert(!optimized(SparkEntry.queries("urlcount_approx_distinct")(spark, dir))
      .contains("count(distinct"))
    val approx = SparkEntry.queries("urlcount_approx_distinct")(spark, dir).collect()
    assert(approx.map(r => (r.getLong(0), r.getBoolean(1))).toSeq === Seq((3L, true)))
  }

  test("the collation guard: only a UTF8_BINARY string is rewritten") {
    def idiomPlan(st: StringType): LogicalPlan = {
      val a = AttributeReference("t", st)()
      val v = NamedLambdaVariable("x", st, nullable = false)
      val lambda = LambdaFunction(GreaterThan(Length(v), Literal(0)), Seq(v))
      Project(Seq(Alias(ArrayFilter(StringSplit(a, Literal(" "), Literal(-1)), lambda), "a")()),
        LocalRelation(a))
    }
    def rewritten(p: LogicalPlan): Boolean =
      TokenizeRewrite(p).expressions.exists(_.exists(_.isInstanceOf[SplitTokens]))
    assert(rewritten(idiomPlan(StringType)))
    assert(!rewritten(idiomPlan(StringType("UTF8_LCASE"))))
    assert(!rewritten(idiomPlan(StringType("UTF8_BINARY_RTRIM"))))
  }

  test("no main source tokenizes with explode(split(") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    def sources(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = sources(root)
      .filter(f => Files.readString(f.toPath).contains("explode(split("))
      .map(_.getName)
    assert(offenders.isEmpty)
  }
}
