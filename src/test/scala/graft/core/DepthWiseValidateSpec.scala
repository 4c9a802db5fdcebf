package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkSuite
import graft.{filters => F}

/** `Validate.columns` builds its frame depth-wise (one projection per chain
  * depth, one generated method per step). It must produce exactly what
  * applying the specs one column at a time produces, and keep every
  * generated method small enough for the JIT. */
class DepthWiseValidateSpec extends SparkSuite {

  /** Column-at-a-time reference: each spec's chain behind its own
    * per-step projections, errors merged after each column. */
  private def sequential(df: DataFrame, specs: Seq[(String, Validator, String)]): DataFrame =
    specs.foldLeft(df) { case (cur0, (c, v, k)) =>
      def q(n: String) = col(s"`$n`")
      var cur = cur0.withColumn("__sv", q(c)).withColumn("__se", Errs.none)
      for (leaf <- v.flattened) {
        val (nv, ne) = leaf.step(q("__sv"), q("__se"), lit(k))
        cur = cur.withColumns(Map("__sv" -> nv, "__se" -> ne))
      }
      val errors =
        if (cur0.columns.contains(Validate.ErrorsCol))
          concat(coalesce(col(Validate.ErrorsCol), Errs.none), q("__se"))
        else q("__se")
      cur.withColumn(c, q("__sv")).withColumn(Validate.ErrorsCol, errors).drop("__sv", "__se")
    }

  private def assertSame(expected: DataFrame, actual: DataFrame): Unit = {
    assert(actual.schema == expected.schema, s"${actual.schema.treeString}\n${expected.schema.treeString}")
    assert(expected.exceptAll(actual).isEmpty && actual.exceptAll(expected).isEmpty,
      s"expected:\n${expected.collect().mkString("\n")}\nactual:\n${actual.collect().mkString("\n")}")
  }

  private def frame(ddl: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType.fromDDL(ddl))

  /** Twelve chains over twelve columns, one per filter family. */
  private val wide: Seq[(String, Validator)] = Seq(
    "name" -> (F.Macros.cleanText | F.MinLength(2) | F.MaxLength(40)),
    "city" -> (F.Required() | F.Choice(Seq("Berlin", "Lisbon", "Osaka"))),
    "qty" -> F.Macros.intInRange(0, 1000),
    "price" -> (F.Required() | F.Decimal(12, 2) | F.Min(0)),
    "score" -> (F.Required(F.Emptiness.never) | F.Min(0.0) | F.Max(1.0)),
    "signup_date" -> (F.Required() | F.Date()),
    "last_seen" -> F.Datetime(),
    "email" -> (F.Required() | F.Strip() | F.Regex("^[a-z0-9._]+@[a-z0-9-]+\\.[a-z]{2,}$")),
    "homepage" -> F.Url(),
    "user_uuid" -> (F.Required() | F.Uuid()),
    "country" -> (F.Required() | F.Country()),
    "ip" -> F.IpAddress())

  private lazy val wideDf = frame(
    "id BIGINT, name STRING, city STRING, qty STRING, price STRING, score DOUBLE, " +
      "signup_date STRING, last_seen STRING, email STRING, homepage STRING, " +
      "user_uuid STRING, country STRING, ip STRING",
    Seq(
      Row(1L, " Ada  Lovelace ", "Berlin", "12", "19.99", 0.5, "2021-03-04",
        "2022-01-02T03:04:05Z", "ada.1@calc.com", "https://a.example.com/p/1",
        "123e4567-e89b-42d3-a456-426614174000", "DE", "10.0.0.1"),
      Row(2L, "X", "Atlantis", "abc", "-5.00", 1.5, "2021-13-45", "never",
        "john.example.com", "htp:/broken", "1234-not-a-uuid", "Z9", "300.1.2.3"),
      Row(3L, null, null, null, "", null, null, null, null, null, "", null, null),
      Row(4L, "Grace Hopper", "Osaka", "1000", "0.10", 0.0, "1999-12-31", null,
        " g.h@navy.mil ", null, "123e4567-e89b-42d3-a456-426614174000", "US", null)))

  test("twelve columns: same output as column-at-a-time validation") {
    val res = Validate.columns(wideDf, wide: _*)
    assertSame(sequential(wideDf, wide.map { case (c, v) => (c, v, c) }), res.df)
    assert(res.valid.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L))
  }

  test("a column listed twice: the second chain sees the first chain's cleaned value") {
    val df = frame("id BIGINT, v STRING, w STRING",
      Seq(Row(1L, "  abcd  ", "x"), Row(2L, " ab ", "y"), Row(3L, null, "z"), Row(4L, "a1", null)))
    val specs = Seq[(String, Validator, String)](
      ("v", F.Strip(), "v"), ("w", F.Required() | F.MaxLength(1), "w"),
      ("v", F.Required() | F.MinLength(3), "v"))
    val res = Validate.columns(df, specs.map(s => s._1 -> s._2): _*)
    assertSame(sequential(df, specs), res.df)
    // " ab " strips to "ab" before the length check: too_short, not valid
    val codes = res.df.filter(col("id") === 2L).select(col("_errors.code")).first().getSeq[String](0)
    assert(codes == Seq("too_short"))
    // only the first chain of a column speaks for its raw input: the
    // pushdown twin must not drop a null that Optional fills in
    val filled = Validate.columns(df, "v" -> F.Optional("5"),
      "v" -> (F.Required() | F.Int() | F.Min(1) | F.Max(9)))
    val ids = (d: DataFrame) => d.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(filled.valid) == Seq(3L))
    assert(ids(filled.valid) == ids(filled.df.filter(size(col("_errors")) === 0)))
  }

  test("a pre-existing _errors column, null rows included, is merged like before") {
    val df = frame(
      "id BIGINT, v STRING, n STRING, _errors ARRAY<STRUCT<key: STRING, code: STRING, message: STRING>>",
      Seq(Row(1L, "ok", "7", null), Row(2L, "", "x", Seq.empty),
        Row(3L, "fine", "8", Seq(Row("earlier", "bad", "from upstream")))))
    val specs = Seq[(String, Validator, String)](
      ("v", F.Required(), "v"), ("n", F.Required() | F.Int() | F.Min(1), "n"))
    assertSame(sequential(df, specs), Validate.columns(df, specs.map(s => s._1 -> s._2): _*).df)
  }

  test("dotted literal column names and Validate.column(key = ...) match the sequential form") {
    val df = frame("id BIGINT, `user.name` STRING, age STRING",
      Seq(Row(1L, " x ", "3"), Row(2L, null, "-1"), Row(3L, "bob", "old")))
    assertSame(sequential(df, Seq(("user.name", F.Required() | F.Strip() | F.MinLength(2), "user.name"))),
      Validate.columns(df, "user.name" -> (F.Required() | F.Strip() | F.MinLength(2))).df)
    val chain = F.Required() | F.Int() | F.Min(0)
    val keyed = Validate.column(df, "age", chain, key = "person.age")
    assertSame(sequential(df, Seq(("age", chain, "person.age"))), keyed)
    assert(keyed.select(explode(col("_errors.key"))).collect().map(_.getString(0)).toSet ==
      Set("person.age"))
  }

  test("without whole-stage codegen the output is the same") {
    val key = "spark.sql.codegen.wholeStage"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val res = Validate.columns(wideDf, wide: _*)
      assert(res.valid.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }.isEmpty)
      assertSame(sequential(wideDf, wide.map { case (c, v) => (c, v, c) }), res.df)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every generated method of a twelve-column valid split stays JIT-sized (<= 8000 bytes)") {
    val stages = Validate.columns(wideDf, wide: _*).valid.queryExecution.executedPlan
      .collect { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty)
    val sizes = stages.map { w =>
      val (_, code) = w.doCodeGen()
      CodeGenerator.compile(code)._2.maxMethodCodeSize
    }
    // HotSpot's HugeMethodLimit: larger methods are never JIT-compiled
    assert(sizes.max <= 8000, s"largest generated method per stage: $sizes")
  }
}
