package org.apache.spark.sql.catalyst.expressions.codegen

import org.apache.spark.sql.catalyst.expressions.Expression

/** Codegen counterpart of `org.apache.spark.sql.GraftSqlShim`: lives in
  * Spark's codegen package to reach the package-private common-subexpression
  * states of a `CodegenContext`. */
object GraftCodegenShim {

  /** The local variables `expr` reads under whole-stage codegen — input
    * columns and common-subexpression states — and the input columns whose
    * code the producer has not emitted yet (cleared in `ctx`: the caller
    * must emit them before use). What Spark's own subexpression splitting
    * passes to each split function; used by `graft.expressions.OwnMethod`. */
  def localInputs(ctx: CodegenContext, expr: Expression): (Set[VariableValue], Set[ExprCode]) =
    CodeGenerator.getLocalInputVariableValues(ctx, expr, ctx.subExprEliminationExprs)
}
