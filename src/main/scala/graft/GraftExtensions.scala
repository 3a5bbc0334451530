package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, ExpressionInfo, Literal, Md5, Substring}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DotProduct, MinHashArrayExpr, MinHashSketchAgg,
  SimHashSketchAgg, TopKTagAgg, WinnowFpsExpr, WordShinglesExpr}

/** The engine's session extensions: every custom Catalyst
  * expression/aggregate of graft.functions exposed as a named SQL
  * function, so a user can run the whole dedup/similarity toolkit from
  * `spark.sql(...)` without touching the Scala Column API, plus the
  * engine's one optimizer rule, graft.plans.TokenizeRewrite.
  *
  * They apply at session build only: `withExtensions(new
  * GraftExtensions)`, as GraftSession.build does, or the config
  * `spark.sql.extensions=graft.GraftExtensions`. Each session gets the
  * functions and exactly one copy of the rule.
  *
  * Sizing arguments (shingle n, sketch k, winnow k/w) must be INTEGER
  * LITERALS — they parameterize codegen'd expression instances, not
  * per-row inputs; a non-literal raises an analysis-time error rather
  * than silently defaulting.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.TokenizeRewrite)
  }
}

object GraftExtensions {

  private def intLit(fn: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INTEGER literal, got $other")
  }

  private def strLit(fn: String, arg: String, e: Expression): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a STRING literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getCanonicalName, null, name, usage, "")

  private def badArity(fn: String, usage: String): Nothing =
    throw new IllegalArgumentException(s"$fn: expected $usage")

  /** (name, info, builder) for every exposed function. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_word_shingles",
      info("graft_word_shingles",
        "graft_word_shingles(text[, n]) - lowercased n-word shingles (default n=3)"),
      {
        case Seq(text) => WordShinglesExpr(text, 3)
        case Seq(text, n) =>
          WordShinglesExpr(text, intLit("graft_word_shingles", "n", n))
        case _ => badArity("graft_word_shingles", "(text[, n])")
      }),
    ("graft_winnow_fps",
      info("graft_winnow_fps",
        "graft_winnow_fps(norm, k, w) - winnowing fingerprints: min h60 per " +
          "w-window of k-gram hashes"),
      {
        case Seq(norm, k, w) => WinnowFpsExpr(norm,
          intLit("graft_winnow_fps", "k", k), intLit("graft_winnow_fps", "w", w))
        case _ => badArity("graft_winnow_fps", "(norm, k, w)")
      }),
    ("graft_minhash_array",
      info("graft_minhash_array",
        "graft_minhash_array(arr, k) - per-row k-minima minhash sketch of a " +
          "string array (md5 family)"),
      {
        case Seq(arr, k) =>
          MinHashArrayExpr(arr, intLit("graft_minhash_array", "k", k))
        case _ => badArity("graft_minhash_array", "(arr, k)")
      }),
    ("graft_dot",
      info("graft_dot",
        "graft_dot(a, b) - sequential-fold dot product of two ARRAY<DOUBLE>"),
      {
        case Seq(a, b) => DotProduct(a, b)
        case _ => badArity("graft_dot", "(a, b)")
      }),
    ("graft_h60",
      info("graft_h60",
        "graft_h60(s) - 60-bit md5-derived integer hash (cross-engine " +
          "deterministic; see OracleHash)"),
      {
        // catalyst nodes directly (a Column-API composition would embed
        // unresolved ColumnNodes a FunctionBuilder never re-analyzes):
        // cast(conv(substring(md5(s), 1, 15), 16, 10) as long)
        case Seq(s) => Cast(
          Conv(Substring(Md5(s), Literal(1), Literal(15)),
            Literal(16), Literal(10)),
          LongType)
        case _ => badArity("graft_h60", "(s)")
      }),
    ("graft_cms_estimate",
      info("graft_cms_estimate",
        "graft_cms_estimate(sketch, item) - point-query estimate from a " +
          "count_min_sketch(...) binary (string item probed as UTF-8 bytes)"),
      {
        case Seq(s, i) => graft.functions.CmsEstimateExpr(s, i)
        case _ => badArity("graft_cms_estimate", "(sketch, item)")
      }),
    // aggregates: the analyzer wraps a returned AggregateFunction in its
    // AggregateExpression, so these work directly under GROUP BY
    ("graft_minhash_sketch",
      info("graft_minhash_sketch",
        "graft_minhash_sketch(value, k[, family]) - aggregate: k-minima " +
          "minhash sketch of a string column (family 'md5' or 'xxh64')"),
      {
        case Seq(v, k) =>
          MinHashSketchAgg(v, intLit("graft_minhash_sketch", "k", k), "md5")
        case Seq(v, k, f) =>
          MinHashSketchAgg(v, intLit("graft_minhash_sketch", "k", k),
            strLit("graft_minhash_sketch", "family", f))
        case _ => badArity("graft_minhash_sketch", "(value, k[, family])")
      }),
    ("graft_simhash",
      info("graft_simhash",
        "graft_simhash(value) - aggregate: 32-bit simhash of a string column"),
      {
        case Seq(v) => SimHashSketchAgg(v)
        case _ => badArity("graft_simhash", "(value)")
      }),
    ("graft_top_k",
      info("graft_top_k",
        "graft_top_k(n, tag, k) - aggregate: top-k (n, tag) structs ordered " +
          "(n desc, tag asc) via a bounded k-entry buffer (no per-group sort)"),
      {
        case Seq(o, t, kk) => TopKTagAgg(o, t, intLit("graft_top_k", "k", kk))
        case _ => badArity("graft_top_k", "(n, tag, k)")
      }))
}
