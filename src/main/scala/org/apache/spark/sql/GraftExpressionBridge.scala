package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column <-> catalyst Expression
  * conversion, so custom codegen expressions (graft.functions.*) can be
  * exposed as ordinary `Column`s without a UDF. This is the standard
  * technique public Spark extension libraries use — the only member of
  * the Spark namespace this project defines, and it adds no behavior.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
