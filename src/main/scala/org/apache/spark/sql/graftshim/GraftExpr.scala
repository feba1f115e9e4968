package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst-expression bridge for engine-constructed
  * expressions that carry driver-built state (e.g. the pinned IVF
  * codebook inside [[graft.functions.NearestCells]]) or constant
  * parameters (the digest window of [[graft.functions.Md5Int]]) and so
  * skip the string-based `FunctionRegistry` route the other graft
  * kernels use: no session registration. Spark 4 scopes `ExpressionUtils`
  * `private[sql]`, so this one-file shim lives under the sql package —
  * the standard extension-library idiom; no Spark internals are
  * modified or shadowed.
  */
object GraftExpr {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
