package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Registrable domain of a lowercased host under the PSL `rules`
  * ([[Kernels.registrableDomain]]; null host, IPv4 and bracketed hosts
  * give null).
  *
  * The rule sets are hash sets built once per expression instance, not
  * per row: as in [[BloomMightContainSharded]], the codegen `references`
  * entry is this expression itself, and the compiled [[Kernels.PslRules]]
  * is `@transient lazy`, rebuilt at most once per deserialized instance.
  */
case class PublicSuffixDomain(child: Expression, rules: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "registrable_domain"
  override def toString: String = s"$prettyName($child, ${rules.length} rules)"

  @transient private lazy val ruleSets = new Kernels.PslRules(rules)

  /** Row-level kernel call, shared by interpreted and generated paths. */
  def domain(host: UTF8String): UTF8String = Kernels.registrableDomain(host, ruleSets)

  override def nullSafeEval(input: Any): Any = domain(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("publicSuffixDomain", this,
      classOf[PublicSuffixDomain].getName)
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = $self.domain($h); ${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): PublicSuffixDomain =
    copy(child = newChild)
}
