package graft.filters

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.core.ScalarFilter
import graft.expressions.native

/** Coerce to integer via the decimal path: `'42'`/`'42.0'`/42.0 → 42;
  * `'42.5'` rejected (must be whole); non-numeric / non-finite rejected.
  * Reference: `filters/number.py::Int` (which routes through `Decimal`). */
case class Int() extends ScalarFilter {
  val name = "Int"
  val code = "not_int"
  override protected def defaultMessage = "This value must be a whole number."
  private def dec(v: Column) = native.tryCast(v, DecimalType(38, 18))
  override protected def invalid(v: Column) = {
    val d = dec(v)
    // range guard: whole numbers beyond Long range would otherwise
    // null-out silently in the final cast instead of erroring
    d.isNull || d =!= floor(d) ||
      d > lit(Long.MaxValue) || d < lit(Long.MinValue)
  }
  override protected def clean(v: Column) = dec(v).cast(LongType)
}

/** Coerce to decimal with pinned precision/scale; rejects non-numeric and
  * non-finite (NaN/±Inf → failed cast → rejected).
  * Reference: `filters/number.py::Decimal` (max_precision ≈ scale pin). */
case class Decimal(precision: scala.Int = 38, scale: scala.Int = 18) extends ScalarFilter {
  val name = "Decimal"
  val code = "not_numeric"
  override protected def defaultMessage = "This value must be a finite number."
  private def dec(v: Column) = native.tryCast(v, DecimalType(precision, scale))
  override protected def invalid(v: Column) = dec(v).isNull
  override protected def clean(v: Column) = dec(v)
}

/** value >= min (or > if exclusive); pass-through.
  * Reference: `filters/number.py::Min`. */
case class Min(min: Any, exclusive: Boolean = false) extends ScalarFilter {
  val name = "Min"
  val code = "too_small"
  override protected def defaultMessage = s"This value must be ${if (exclusive) ">" else ">="} $min."
  override protected def invalid(v: Column) =
    if (exclusive) v <= lit(min) else v < lit(min)
}

/** value <= max (or < if exclusive); pass-through.
  * Reference: `filters/number.py::Max`. */
case class Max(max: Any, exclusive: Boolean = false) extends ScalarFilter {
  val name = "Max"
  val code = "too_big"
  override protected def defaultMessage = s"This value must be ${if (exclusive) "<" else "<="} $max."
  override protected def invalid(v: Column) =
    if (exclusive) v >= lit(max) else v > lit(max)
}

/** Round to `scale` decimal places (half-up, like the reference default
  * ROUND_HALF_UP; `halfEven = true` for banker's rounding — the
  * reference's `rounding=ROUND_HALF_EVEN` option), or to the nearest
  * multiple of `toNearest`. Reference: `filters/number.py::Round`. */
case class Round(scale: scala.Int = 0, toNearest: Option[Double] = None,
                 halfEven: Boolean = false) extends ScalarFilter {
  val name = "Round"
  val code = "unused"
  private def r(c: Column, s: scala.Int) = if (halfEven) bround(c, s) else round(c, s)
  override protected def clean(v: Column) = toNearest match {
    case Some(k) => r(v / k, 0) * k
    case None    => r(v, scale)
  }
}
