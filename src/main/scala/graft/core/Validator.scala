package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A validator: a pure transform over a `(value, errors)` pair of Columns.
  *
  * Spark-first re-expression of the reference's `BaseFilter` protocol
  * (`filters/base.py::BaseFilter._apply/_apply_none/_invalid_value`,
  * SURVEY.md §2.5): instead of per-record Python calls, a validator builds a
  * Catalyst expression tree. Chaining (`|`) preserves the reference's
  * per-record short-circuit — once a record has an error, later filters in
  * the chain are skipped (encoded as lazy `CASE WHEN`, which whole-stage
  * codegen evaluates lazily).
  *
  * Value/error state is threaded as two separate Columns (not one struct) to
  * keep expression trees small; `result` packs the final pair into
  * `struct(value, errors)`.
  */
trait Validator { self =>
  def name: String

  /** Transform the `(value, errors)` state under the dotted context `key`.
    * Implementations must preserve short-circuit: if `errors` is non-empty
    * the value must pass through untouched (as null) and no new error added.
    */
  def step(value: Column, errors: Column, key: Column): (Column, Column)

  /** Chain composition — the reference's `FilterChain` `|` operator. */
  def |(next: Validator): Validator = Chain(self, next)

  /** The chain's leaf filters in application order. `Validate.columns`
    * applies them depth-wise: leaf `d` of every column's chain in one
    * projection, with a projection between consecutive leaves — composing
    * a chain into one expression duplicates the (value-transforming) CASE
    * of each step into every reference the next step makes (exponential
    * tree growth with chain length). Each leaf is generated into a method
    * of its own, which keeps every method under HotSpot's 8,000-byte
    * JIT limit however many columns are validated. */
  def flattened: Seq[Validator] = self match {
    case Chain(a, b) => a.flattened ++ b.flattened
    case other => Seq(other)
  }

  /** Alias for `|` for readers who prefer words. */
  def and(next: Validator): Validator = self | next

  /** A cheap predicate on the RAW input column that is implied by "this
    * chain produced no errors" — e.g. `IsNotNull` for a leading [[Required]].
    * `Validate.columns` conjoins it BELOW the validation projections for the
    * valid split, so it reaches the parquet scan (null-page row-group
    * skipping) although the chain's own split filter sits behind the
    * optimizer barrier ([[ValidationResult]]). Only the chain's first step
    * can speak for the raw input: later steps see coerced values. */
  def pushedPredicate(in: Column): Option[Column] = None

  /** Override error MESSAGES by code — the reference's per-class
    * `templates` dict (`filters/base.py::BaseFilter.templates`, merged up
    * the MRO; here: merged across wrappers, innermost wins are replaced by
    * outermost like a subclass override). Codes are stable; only the
    * human-readable text changes. */
  def templates(overrides: (String, String)*): Validator =
    Templated(self, overrides.toMap)

  /** Apply to an input column as ONE composed expression: returns
    * `struct(value, errors)`. Prefer `Validate.column` for DataFrames — it
    * applies chain steps behind per-step projections, which keeps
    * expression size linear in chain length (see `Validate.columns` docs);
    * this single-expression form grows ~3^steps and is meant for short
    * chains embedded inside other expressions. */
  def result(in: Column, key: String): Column = {
    val (v, e) = step(in, Errs.none, lit(key))
    struct(v.as("value"), e.as("errors"))
  }
}

/** Left-to-right composition with per-record short-circuit
  * (reference: `filters/base.py::FilterChain`). */
final case class Chain(first: Validator, second: Validator) extends Validator {
  val name = s"${first.name}|${second.name}"
  def step(v: Column, e: Column, key: Column): (Column, Column) = {
    val (v1, e1) = first.step(v, e, key)
    second.step(v1, e1, key)
  }
  override def pushedPredicate(in: Column): Option[Column] = first.pushedPredicate(in)
}

/** Message-template override wrapper (reference `templates` semantics):
  * rewrites the `message` field of errors whose `code` matches, leaving
  * keys/codes untouched. Applies to every error the wrapped validator
  * (or chain) emits. */
final case class Templated(inner: Validator, overrides: Map[String, String]) extends Validator {
  val name = inner.name
  override def flattened: Seq[Validator] =
    if (inner.flattened.sizeIs > 1) inner.flattened.map(Templated(_, overrides)) else Seq(this)
  override def pushedPredicate(in: Column): Option[Column] = inner.pushedPredicate(in)
  def step(v: Column, e: Column, key: Column): (Column, Column) = {
    val (nv, ne) = inner.step(v, e, key)
    val mapped = transform(ne, er => {
      val msg = overrides.foldLeft(er.getField("message")) { case (acc, (c, m)) =>
        when(er.getField("code") === c, lit(m)).otherwise(acc)
      }
      struct(er.getField("key").as("key"), er.getField("code").as("code"), msg.as("message"))
    })
    // Only rewrite errors THIS validator emitted: under short-circuit, new
    // errors appear only when the incoming array was empty — errors passed
    // through from earlier chain members must keep their own messages.
    (nv, when(size(e) === 0, mapped).otherwise(ne))
  }
}

/** Base class for scalar filters: implement `clean` (the coercion) and/or
  * `invalid` (the rejection predicate) for an in-scope input.
  *
  * None-passthrough (reference `BaseFilter._apply_none`, SURVEY.md §1): by
  * default a null value bypasses the filter and stays null; only filters
  * with `handlesNull = true` (Required, Optional) see nulls.
  *
  * On rejection the cleaned value becomes null — matching the reference's
  * default invalid-value handler, which replaces invalid values with `None`.
  */
abstract class ScalarFilter extends Validator {
  /** Error code recorded when `invalid` holds. */
  def code: String

  def message: Column = lit(defaultMessage)
  protected def defaultMessage: String = "This value is invalid."

  /** Whether this filter runs on null inputs (default: null passes through). */
  protected def handlesNull: Boolean = false

  /** Cleaned value for an in-scope input. Default: identity (pure check). */
  protected def clean(v: Column): Column = v

  /** Rejection predicate for an in-scope input. Default: never. */
  protected def invalid(v: Column): Column = lit(false)

  final def step(value: Column, errors: Column, key: Column): (Column, Column) = {
    val noPrior = size(errors) === 0
    val inScope =
      if (handlesNull) noPrior
      else noPrior && value.isNotNull
    // Null-safe: a null predicate must not both suppress the error AND null
    // out the value, so collapse 3-valued logic to false explicitly.
    val bad = coalesce(invalid(value), lit(false))
    val newValue = when(inScope && !bad, clean(value)) // else null
    val newErrors = when(!noPrior, errors)
      .when(inScope && bad, array(Errs.one(key, code, message)))
      .otherwise(Errs.none)
    (newValue, newErrors)
  }
}
