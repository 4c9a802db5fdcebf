package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** Evaluates `child` unchanged, but under whole-stage codegen emits the
  * child's code into a method of its own instead of inlining it into the
  * stage's `processNext`.
  *
  * Why: a stage of Projects inlines every projection into one method
  * (`splitConsumeFuncByOperator` does not split a Project that passes
  * columns through), and HotSpot never JIT-compiles a method over 8,000
  * bytes of bytecode (`HugeMethodLimit`) — the whole stage then runs in
  * the bytecode interpreter. Wrapping each heavy projected expression
  * keeps every generated method near the size of that one expression.
  *
  * The method takes the child's input variables and the common
  * subexpression states it reads as parameters
  * (`CodeGenerator.getLocalInputVariableValues` via `GraftCodegenShim`,
  * the mechanism Spark uses to split common subexpressions into
  * functions); inputs the producer has not evaluated yet are evaluated
  * just before the call.
  * Outside whole-stage codegen (`ctx.currentVars == null`: row-based
  * projections, which split their own code) and when the parameter list
  * would exceed the JVM limit, it generates the child's code inline.
  */
case class OwnMethod(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "own_method"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (ctx.currentVars == null) return child.genCode(ctx)
    val (inputs, pending) = GraftCodegenShim.localInputs(ctx, child)
    // inputs the producer left lazy are declared here, once, before use
    val evalPending = pending.toSeq.map(_.code).foldLeft(EmptyBlock: Block)(_ + _)
    val params = inputs.toSeq.sortBy(_.variableName)
    val c = child.genCode(ctx)
    if (!CodeGenerator.isValidParamLength(
        CodeGenerator.calculateParamLengthFromExprValues(params)))
      return c.copy(code = evalPending + c.code)

    val javaType = CodeGenerator.javaType(dataType)
    val isNullState =
      if (nullable) ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "ownMethodIsNull") else ""
    val fn = ctx.freshName("ownMethod")
    val fnCall = ctx.addNewFunction(fn,
      s"""
         |private $javaType $fn(${params.map(p =>
             s"${CodeGenerator.typeName(p.javaType)} ${p.variableName}").mkString(", ")}) {
         |  ${c.code}
         |  ${if (nullable) s"$isNullState = ${c.isNull};" else ""}
         |  return ${c.value};
         |}
       """.stripMargin)
    val args = params.map(_.variableName).mkString(", ")
    if (nullable)
      ev.copy(code =
        code"""
              |$evalPending
              |$javaType ${ev.value} = $fnCall($args);
              |boolean ${ev.isNull} = $isNullState;
            """.stripMargin)
    else
      ev.copy(isNull = FalseLiteral, code =
        code"""
              |$evalPending
              |$javaType ${ev.value} = $fnCall($args);
            """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): OwnMethod =
    copy(child = newChild)
}
