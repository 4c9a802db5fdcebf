package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import graft.expressions.OwnMethod

/** Optimizer rule: rewrite validation-split filters into plain predicates.
  *
  * `ValidationResult.valid` filters on `size(_errors) == 0` where `_errors`
  * is the nested CASE tree a validator chain builds. As an opaque
  * array-valued CASE, nothing reaches the parquet scan. This rule pushes
  * the `size(..) == 0` comparison algebraically through CASE / concat /
  * literal-array nodes, yielding a boolean AND/OR tree over the raw row —
  * which Catalyst then simplifies (BooleanSimplification) and pushes into
  * the scan (e.g. `IsNotNull(text)` from a Required chain reaches
  * PushedFilters).
  *
  * Soundness: CASE evaluates branches top-down treating a null predicate
  * as false — mirrored here by wrapping each branch condition in
  * `coalesce(cond, false)`. Rewrites only apply when the CASE has an else
  * branch (our error trees always do); anything unrecognized falls back to
  * the original `size(..) == 0` comparison. [[OwnMethod]] wrappers (one
  * generated method per validation step) are looked through: they only
  * place code, so an unbarriered chain pushed into the filter still
  * rewrites and reaches the scan.
  */
object SimplifyValidationFilters extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val rewritten = cond.transform {
        case e @ EqualTo(Size(arr, _), IntegerLiteral(0)) => guarded(e, zeroCond(arr))
        case e @ EqualTo(IntegerLiteral(0), Size(arr, _)) => guarded(e, zeroCond(arr))
        case e @ GreaterThan(Size(arr, _), IntegerLiteral(0)) => guarded(e, nonZeroCond(arr))
        case e @ LessThan(IntegerLiteral(0), Size(arr, _)) => guarded(e, nonZeroCond(arr))
      }
      val withNN = withImpliedNotNulls(rewritten)
      if (withNN fastEquals cond) f else Filter(withNN, child)
  }

  /** `size(arr) == 0` as a boolean, built by [[zeroTree]]. Null-safe under
    * Filter semantics without explicit guards: a null leaf can only turn
    * the tree null (row dropped, matching size(null) = null) or collapse
    * null→false via AND — never true. */
  private def zeroCond(arr: Expression): Expression = zeroTree(arr)

  /** `size(arr) > 0` as a boolean, built by [[nonZeroTree]]. NOT implemented
    * as `Not(zeroTree)`: zeroTree's AND nodes may collapse a null operand to
    * false (fine for the zero direction — both drop the row) and Not would
    * flip that to a wrong TRUE. Nor with global IsNotNull guards over all
    * fallback leaves (the round-2 bug): that drops rows whose null leaf sits
    * on an UNTAKEN CASE branch. nonZeroTree keeps nullability branch-local. */
  private def nonZeroCond(arr: Expression): Expression = nonZeroTree(arr)

  /** Chains whose filters TRANSFORM the value nest the transformed-value
    * CASE inside every downstream condition — naive push-through then
    * duplicates that subtree per branch, exponentially. Only take the
    * rewrite when it doesn't blow the predicate up (the size(..)=0 form
    * evaluates the error CASE once and is already cheap). */
  private def guarded(original: Expression, rewritten: Expression): Expression = {
    def sz(e: Expression): Int = 1 + e.children.map(sz).sum
    if (sz(rewritten) <= 3 * sz(original) + 64) rewritten else original
  }

  /** `NOT coalesce(<…OR isnull(a)…>, false)` as a top-level conjunct implies
    * `a IS NOT NULL`. The `coalesce` wrapper itself can't be translated to a
    * parquet filter, but the implied IsNotNull can — conjoin it (redundant,
    * so semantics unchanged) to enable scan-level row-group skipping. */
  private def withImpliedNotNulls(cond: Expression): Expression = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def isNullTargets(e: Expression): Seq[Attribute] = e match {
      case Or(l, r) => isNullTargets(l) ++ isNullTargets(r)
      case IsNull(a: Attribute) => Seq(a)
      case _ => Nil
    }
    val existing = conjuncts(cond)
    val implied = existing.flatMap {
      case Not(Coalesce(Seq(c, Literal(false, _)))) => isNullTargets(c)
      case _ => Nil
    }.distinct.map(a => IsNotNull(a).asInstanceOf[Expression])
      .filterNot(n => existing.exists(_ semanticEquals n))
    if (implied.isEmpty) cond else (cond +: implied).reduce(And)
  }

  /** Boolean expression equivalent to `size(arr) == 0`, pushed through the
    * shapes our validators produce. */
  private def and(a: Expression, b: Expression): Expression =
    if (a == Literal.TrueLiteral) b
    else if (b == Literal.TrueLiteral) a
    else if (a == Literal.FalseLiteral || b == Literal.FalseLiteral) Literal.FalseLiteral
    else And(a, b)

  private def or(a: Expression, b: Expression): Expression =
    if (a == Literal.FalseLiteral) b
    else if (b == Literal.FalseLiteral) a
    else if (a == Literal.TrueLiteral || b == Literal.TrueLiteral) Literal.TrueLiteral
    else Or(a, b)

  private def not(a: Expression): Expression = a match {
    case Literal.TrueLiteral  => Literal.FalseLiteral
    case Literal.FalseLiteral => Literal.TrueLiteral
    case Not(x)               => x
    case _                    => Not(a)
  }

  /** The three tree builders below are mutually consistent recursive
    * translations over the shapes our validators produce (CASE / concat /
    * cast / literal arrays), each BRANCH-LOCAL: a CASE contributes only the
    * property of whichever branch its condition selects, never of untaken
    * branches. Fallback-leaf outputs (`size(x)=0`, `size(x)>0`,
    * `isnotnull(x)`) are fixpoints of this rule's rewrite patterns — the
    * rule must not re-match and grow its own output (transformDown
    * re-descends into rewritten nodes). */

  /** Boolean `size(arr) == 0`; null leaf ⇒ null-or-false (row dropped). */
  private def zeroTree(arr: Expression): Expression = arr match {
    case CaseWhen(branches, Some(elseValue)) =>
      branches.foldRight(zeroTree(elseValue)) { case ((c, v), rest) =>
        val cond = Coalesce(Seq(c, Literal.FalseLiteral))
        or(and(cond, zeroTree(v)), and(not(cond), rest))
      }
    case Concat(children) if children.nonEmpty =>
      // empty iff ALL parts empty; a null part nulls/falses the AND — same
      // row fate as size(concat(..null..)) = null
      children.map(zeroTree).reduce(and)
    case Cast(child, _: ArrayType, _, _) => zeroTree(child)
    case OwnMethod(child) => zeroTree(child)
    case CreateArray(items, _) =>
      if (items.isEmpty) Literal.TrueLiteral else Literal.FalseLiteral
    case Literal(value, _: ArrayType) if value != null =>
      if (value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements() == 0)
        Literal.TrueLiteral
      else Literal.FalseLiteral
    case other => EqualTo(Size(other, legacySizeOfNull = false), Literal(0))
  }

  /** Boolean `size(arr) > 0`; null leaf on the TAKEN path ⇒ null (dropped),
    * null leaf on an untaken path is ignored. */
  private def nonZeroTree(arr: Expression): Expression = arr match {
    case CaseWhen(branches, Some(elseValue)) =>
      branches.foldRight(nonZeroTree(elseValue)) { case ((c, v), rest) =>
        val cond = Coalesce(Seq(c, Literal.FalseLiteral))
        or(and(cond, nonZeroTree(v)), and(not(cond), rest))
      }
    case Concat(children) if children.nonEmpty =>
      // "some part non-empty" alone would let it outvote a NULL sibling
      // (null OR true = true; the original null concat drops the row), so
      // conjoin branch-local notNull for every part
      val defined = children.map(notNullTree).reduce(and)
      val anyNonZero = children.map(nonZeroTree).reduce(or)
      and(defined, anyNonZero)
    case Cast(child, _: ArrayType, _, _) => nonZeroTree(child)
    case OwnMethod(child) => nonZeroTree(child)
    case CreateArray(items, _) =>
      if (items.isEmpty) Literal.FalseLiteral else Literal.TrueLiteral
    case Literal(value, _: ArrayType) if value != null =>
      if (value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements() == 0)
        Literal.FalseLiteral
      else Literal.TrueLiteral
    case other => GreaterThan(Size(other, legacySizeOfNull = false), Literal(0))
  }

  /** Boolean "arr is not null", branch-local through CASE. */
  private def notNullTree(arr: Expression): Expression = arr match {
    case CaseWhen(branches, Some(elseValue)) =>
      branches.foldRight(notNullTree(elseValue)) { case ((c, v), rest) =>
        val cond = Coalesce(Seq(c, Literal.FalseLiteral))
        or(and(cond, notNullTree(v)), and(not(cond), rest))
      }
    case Concat(children) if children.nonEmpty => children.map(notNullTree).reduce(and)
    case Cast(child, _: ArrayType, _, _) => notNullTree(child)
    case OwnMethod(child) => notNullTree(child)
    case CreateArray(_, _) => Literal.TrueLiteral
    case Literal(value, _) => if (value == null) Literal.FalseLiteral else Literal.TrueLiteral
    case other => IsNotNull(other)
  }

  private object IntegerLiteral {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
  }
}
