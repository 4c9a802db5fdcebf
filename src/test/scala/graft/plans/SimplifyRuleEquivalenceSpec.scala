package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Exhaustive 3-valued-logic harness for the filter shapes validation
  * splits use (`size(_errors) ⋈ 0` over array CASE/concat trees): for a
  * grid of such shapes over rows covering every null/empty/non-empty
  * combination, `df.filter(size(shape) ⋈ 0)` must keep EXACTLY the rows
  * whose predicate evaluates true in a plain projection.
  *
  * The session carries the optimizer rules GraftExtensions injects, and an
  * injected rule rewrites arbitrary user queries, not just graft's own
  * error trees; a projection oracle is immune to filter rewrites, so any
  * 3VL divergence such a rule introduces — on ANY branch shape, taken or
  * untaken — shows up as a row-set diff.
  */
class SimplifyRuleEquivalenceSpec extends SparkSuite {
  import spark.implicits._

  // every combination of: c ∈ {true, false, null} × a,b ∈ {null, [], [x]}
  private lazy val rows = {
    val arrays = Seq(null.asInstanceOf[Seq[Int]], Seq.empty[Int], Seq(7))
    val conds = Seq(Some(true), Some(false), None)
    val data = for {
      (c, ci) <- conds.zipWithIndex
      (a, ai) <- arrays.zipWithIndex
      (b, bi) <- arrays.zipWithIndex
    } yield (ci * 9 + ai * 3 + bi, c, a, b)
    data.toDF("id", "c", "a", "b")
  }

  private def shapes: Seq[(String, Column)] = {
    val c = col("c"); val a = col("a"); val b = col("b")
    Seq(
      "case_else_nonempty" -> when(c, a).otherwise(array(lit(1))),
      "case_else_empty" -> when(c, a).otherwise(array().cast("array<int>")),
      "case_no_else" -> when(c, a),
      "case_null_cond" -> when(c.isNull, a).otherwise(b),
      "case_nested" -> when(c, concat(a, b)).otherwise(when(!c, a).otherwise(b)),
      "concat_plain" -> concat(a, b),
      "concat_with_case" -> concat(when(c, a).otherwise(array(lit(1))), b),
      "concat_empty_lit" -> concat(a, array().cast("array<int>")),
      "cast_through" -> when(c, a).otherwise(array(lit(1))).cast("array<long>"),
      "case_both_branches_cols" -> when(c, a).otherwise(b),
      // deep nesting: CASE inside CASE inside concat and vice versa
      "deep_case_in_case" ->
        when(c, when(c.isNull, a).otherwise(concat(b, array(lit(1)))))
          .otherwise(when(!c, a).otherwise(b)),
      "deep_concat_of_cases" ->
        concat(when(c, a).otherwise(b), when(!c, b).otherwise(array().cast("array<int>"))),
      "deep_case_of_concats" ->
        when(c, concat(a, concat(b, array(lit(2))))).otherwise(concat(a, b)),
      "deep_mixed_cast" ->
        when(c, concat(a, b).cast("array<long>"))
          .otherwise(when(c.isNull, array(lit(9L))).otherwise(b.cast("array<long>"))))
  }

  private def checkShape(name: String, e: Column): Unit = {
    for ((cmpName, cmp) <- Seq[(String, Column => Column)](
      "eq0" -> (x => size(x) === 0),
      "gt0" -> (x => size(x) > 0),
      "eq0_flipped" -> (x => lit(0) === size(x)),
      "lt0_flipped" -> (x => lit(0) < size(x)))) {
      // oracle: evaluate the predicate in a projection (filter rewrites
      // do not reach it), treat null as drop — SQL filter semantics
      val expected = rows.select(col("id"), cmp(e).as("keep")).collect()
        .filter(r => !r.isNullAt(1) && r.getBoolean(1)).map(_.getInt(0)).toSet
      val actual = rows.filter(cmp(e)).select("id").as[Int].collect().toSet
      assert(actual == expected,
        s"$name/$cmpName: filter kept $actual, projection oracle says $expected")
    }
  }

  shapes.foreach { case (name, e) =>
    test(s"filter ≡ projection oracle for shape: $name") { checkShape(name, e) }
  }
}
