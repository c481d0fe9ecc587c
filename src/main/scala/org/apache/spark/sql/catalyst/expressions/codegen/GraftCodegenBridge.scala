package org.apache.spark.sql.catalyst.expressions.codegen

import org.apache.spark.sql.catalyst.expressions.ExpressionEquals

/** Bridge to the common subexpressions a whole-stage stage has in scope
  * while it generates code, which `CodegenContext` keeps package-private.
  * An expression that splits its code into methods must pass their
  * variables as parameters, as it passes its input variables.
  */
object GraftCodegenBridge {
  def subExprs(ctx: CodegenContext): Map[ExpressionEquals, SubExprEliminationState] =
    ctx.subExprEliminationExprs
}
