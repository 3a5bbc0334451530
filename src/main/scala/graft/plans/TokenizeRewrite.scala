package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Expression,
  GreaterThan, IntegerLiteral, LambdaFunction, Length, Literal,
  NamedLambdaVariable, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{SplitTokens, TokenCountExpr}

/** Optimizer rule: the engine's one tokenizer idiom
  *
  *   filter(split(s, sep, -1), t -> length(t) > 0)
  *
  * becomes the codegen'd `split_tokens(s, sep)` (SplitTokens: one pass
  * over the UTF-8 bytes for the common separators, no split array and no
  * interpreted lambda — Spark's higher-order functions are not
  * codegen'd), and `size(split_tokens(s, sep))` becomes `token_count(s,
  * sep)`, which builds no array at all. The rewrite runs bottom-up, so
  * `size(filter(split(...)))` reaches `token_count` in one pass. Both
  * results keep the idiom's type and null behavior.
  *
  * Guards, each load-bearing:
  *  - the split limit must be the literal -1 (the `split(col, sep)`
  *    default) — other limits change field segmentation;
  *  - the lambda must be exactly `t -> length(t) > 0` over the filtered
  *    element itself;
  *  - the separator must be a foldable string literal that CANNOT match
  *    the empty string (a zero-width separator makes Java's split
  *    segmentation diverge from matcher-gap scanning);
  *  - the string must have the default UTF8_BINARY collation (a collated
  *    split matches the separator under the collation's rules);
  *  - `legacySizeOfNull` must be off (legacy size(NULL) = -1; the
  *    native count, like the non-legacy idiom, yields NULL).
  *
  * GraftExtensions injects it once per session. It is deliberately the
  * engine's one custom logical rule: every other operator composes stock
  * Catalyst, and a rewrite is worth its maintenance only when it removes
  * a measured interpretation cost from a hot narrow path, as this one
  * does for every tokenizing query.
  */
object TokenizeRewrite extends Rule[LogicalPlan] {

  private def cannotMatchEmpty(sep: String): Boolean =
    try !Pattern.compile(sep).matcher("").find()
    catch { case _: Exception => false }

  private object NonEmptyLambda {
    /** Matches `t -> length(t) > 0` binding exactly the filter element. */
    def unapply(e: Expression): Boolean = e match {
      case LambdaFunction(
          GreaterThan(Length(v1: NamedLambdaVariable), IntegerLiteral(0)),
          Seq(v2: NamedLambdaVariable), _) => v1.exprId == v2.exprId
      case _ => false
    }
  }

  private def binaryString(e: Expression): Boolean = e.dataType match {
    case st: StringType => st.collationId == StringType.collationId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform { case p => p.transformExpressionsUp {
      case ArrayFilter(
          StringSplit(str, Literal(sep: UTF8String, StringType), IntegerLiteral(-1)),
          NonEmptyLambda()) if binaryString(str) && cannotMatchEmpty(sep.toString) =>
        SplitTokens(str, sep.toString)
      case Size(SplitTokens(str, sep), false) =>
        TokenCountExpr(str, sep)
    } }
}
