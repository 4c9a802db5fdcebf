package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.{filters => F}
import graft.filters.Emptiness

/** Every split filters behind the optimizer barrier; the barrier is purely
  * physical, so each split must equal the hand-written unbarriered filter
  * over the annotated frame, and a leading Required must still reach the
  * parquet scan through the pushdown twin. */
class BarrierEquivalenceSpec extends SparkSuite {
  import spark.implicits._

  private def table(n: String) = spark.read.parquet(s"/root/testdata/sf0.001/$n.parquet")
  private lazy val li = table("lineitem")

  private def plainValid(res: ValidationResult) =
    res.df.filter(size(col("_errors")) === 0).drop("_errors")
  private def plainInvalid(res: ValidationResult) = res.df.filter(size(col("_errors")) > 0)

  /** Same rows with multiplicity, both ways. */
  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$what: rows differ")
    assert(a.count() == b.count(), s"$what: row counts differ")
  }

  private def pushedFilters(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")

  test("heavy chain splits agree with and without the barrier") {
    val chain = F.Required(Emptiness.never) | F.Int() | F.Min(1) | F.Max(50)
    val res = Validate.columns(li, "l_quantity" -> chain)
    assertSameRows(res.valid, plainValid(res), "valid")
    assertSameRows(res.invalid, plainInvalid(res), "invalid")
  }

  // (name, table, column, chain, Required-led): the registry's
  // single-column filter cases, a Required|Min chain and a templated chain
  private def shapes = Seq(
    ("q_required", "documents", "text", F.Required(), true),
    ("q_optional", "documents", "lang", F.Optional("und"), false),
    ("q_minmax_length", "documents", "text", F.MinLength(100) | F.MaxLength(400), false),
    ("q_choice", "events", "event_type", F.Choice(Seq("signup", "purchase", "error")), false),
    ("q_type_int", "events", "value", F.Int(), false),
    ("q_min", "lineitem", "l_quantity", F.Min(5.0), false),
    ("q_max", "lineitem", "l_quantity", F.Max(45.0), false),
    ("required_min", "lineitem", "l_quantity", F.Required(Emptiness.never) | F.Min(5.0), true),
    ("required_templated", "documents", "text",
      (F.Required() | F.MinLength(3)).templates("empty" -> "give me text"), true))

  shapes.foreach { case (name, t, c, chain, requiredLed) =>
    test(s"splits equal the unbarriered filter for shape: $name") {
      val res = Validate.columns(table(t), c -> chain)
      assertSameRows(res.valid, plainValid(res), s"$name valid")
      assertSameRows(res.invalid, plainInvalid(res), s"$name invalid")
      if (requiredLed)
        assert(pushedFilters(res.valid).contains(s"PushedFilters: [IsNotNull($c)"),
          pushedFilters(res.valid))
    }
  }

  test("Required chain pushes IsNotNull into the parquet scan") {
    val res = Validate(table("documents"), "text" -> F.Required())
    assert(pushedFilters(res.valid).contains("PushedFilters: [IsNotNull(text)"),
      pushedFilters(res.valid))
    assertSameRows(res.valid, plainValid(res), "valid")
  }

  test("barrier chain starting with Required still pushes IsNotNull to the scan") {
    val chain = F.Required(Emptiness.never) | F.Int() | F.Min(1) | F.Max(50)
    val res = Validate.columns(li, "l_quantity" -> chain)
    assert(res.pushedValid.nonEmpty)
    assert(pushedFilters(res.valid).contains("PushedFilters: [IsNotNull(l_quantity)"),
      pushedFilters(res.valid))
    // the twin must not change the split
    assertSameRows(res.valid, plainValid(res), "valid")
    // invalid split keeps EVERY failing row (no precondition leak): null
    // quantities must appear there
    assert(pushedFilters(res.invalid).linesIterator.forall(!_.contains("IsNotNull(l_quantity)")))
  }

  test("barrier plan filters on the computed attribute, not an inlined chain") {
    val chain = F.Required(Emptiness.never) | F.Int() | F.Min(1) | F.Max(50)
    val res = Validate.columns(li, "l_quantity" -> chain)
    val optimized = res.valid.queryExecution.optimizedPlan.toString
    val filterLine = optimized.split("\n").find(_.contains("Filter")).getOrElse("")
    assert(filterLine.contains("_errors") || filterLine.contains("__ve_"),
      s"filter should reference the computed errors attribute: $filterLine")
    assert(filterLine.length < 500, s"filter line suspiciously large: ${filterLine.length}")
  }

  test("failFast with barrier still raises on invalid and passes clean data") {
    val chain = F.Required(Emptiness.never) | F.Int() | F.Min(1) | F.Max(50)
    val good = Seq(("5"), ("25")).toDF("v")
    assert(Validate.columns(good, "v" -> chain).failFast.count() == 2)
    val bad = Seq(("5"), ("99")).toDF("v")
    val ex = intercept[Exception] {
      Validate.columns(bad, "v" -> chain).failFast.count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("too_big")), ex.toString.take(300))
  }

  // split semantics on small frames, nulls and empties included
  private def df = Seq(
    (1L, Some("hello")), (2L, Some("")), (3L, None), (4L, Some("ab")),
    (5L, Some("  ")), (6L, Some("abcdef")))
    .toDF("id", "v")

  test("Required|MinLength: valid and invalid split the rows between them") {
    val res = Validate(df, "v" -> (F.Required() | F.MinLength(3)))
    // valid: "hello"(5), "abcdef"(6); "  " has length 2 -> too_short
    assert(res.valid.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 6L))
    assert(res.invalid.count() == 4)
    assert(res.valid.count() + res.invalid.count() == df.count())
  }

  test("nulls stay valid through non-Required chains") {
    val res = Validate(df, "v" -> F.MinLength(3))
    // null passes (None-passthrough); "", "ab", "  " fail; hello/abcdef pass
    assert(res.valid.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 6L))
  }

  test("several columns: a row is valid only when every column is") {
    val two = Seq((1L, "a", 5.0), (2L, null.asInstanceOf[String], 3.0), (3L, "b", -1.0))
      .toDF("id", "s", "x")
    val res = Validate(two, "s" -> F.Required(), "x" -> F.Min(0.0))
    assert(res.valid.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(res.invalid.count() == 2)
  }

  test("invalid split of a Required chain keeps the null and the empty value") {
    val res = Validate(df, "v" -> F.Required())
    assert(res.invalid.count() == 2) // "" and null; whitespace is not empty
  }
}
