package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.{filters => F}
import graft.filters.Macros

/** Invalid-value handler policies (reference `filters/handlers.py`,
  * SURVEY.md §2.5) + filter_macro equivalents. */
class HandlersSpec extends SparkSuite {
  import spark.implicits._

  private def df = Seq((1L, "ok"), (2L, ""), (3L, "fine")).toDF("id", "v")

  test("Collect (default): errors accumulate in _errors, valid/invalid split") {
    val res = Validate(df, "v" -> F.Required())
    assert(res.valid.count() == 2 && res.invalid.count() == 1)
    val codes = res.errorCodes.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(codes.toSeq == Seq(("v", "empty", 1L)))
  }

  test("ExceptionHandler: failFast raises on first invalid record") {
    val res = Validate(df, "v" -> F.Required())
    val ex = intercept[Exception] { res.failFast.count() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(m => m.contains("Invalid value") && m.contains("v/empty")), ex.getMessage)
  }

  test("failFast passes through a fully-valid frame") {
    val clean = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Validate(clean, "v" -> F.Required()).failFast.count() == 2)
  }

  test("templates: overrides message text by code, keeps keys/codes stable") {
    val v = (F.Required() | F.MinLength(3)).templates(
      "empty" -> "Custom: give me something",
      "too_short" -> "Custom: at least 3 chars")
    val res = Validate(Seq((1L, ""), (2L, "ab"), (3L, "fine")).toDF("id", "v"), "v" -> v)
    val errs = res.df.select(explode(col("_errors")).as("e"))
      .select("e.key", "e.code", "e.message").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._2)
    assert(errs.toSeq == Seq(
      ("v", "empty", "Custom: give me something"),
      ("v", "too_short", "Custom: at least 3 chars")))
    // non-overridden codes keep their default message
    val v2 = F.Required().templates("other_code" -> "x")
    val res2 = Validate(Seq((1L, "")).toDF("id", "v"), "v" -> v2)
    val m = res2.df.select(explode(col("_errors")).as("e")).select("e.message")
      .first().getString(0)
    assert(m == "This value is required.")
  }

  test("templates: does NOT rewrite errors emitted by earlier chain members") {
    // both filters share the code "too_short"; only the SECOND is templated.
    // "x" fails the first (untemplated) MinLength -> default message stays.
    val v = F.MinLength(2) | F.MinLength(5).templates("too_short" -> "Custom: 5+")
    val res = Validate(Seq((1L, "x"), (2L, "abc")).toDF("id", "v"), "v" -> v)
    val msgs = res.df.select(col("id"), explode(col("_errors")).as("e"))
      .select(col("id"), col("e.message")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(msgs(1L) == "This value is too short (min 2).",
      "first filter's error must keep its own message")
    assert(msgs(2L) == "Custom: 5+")
  }

  test("dotted LITERAL column names validate (not parsed as struct access)") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "x"), org.apache.spark.sql.Row(2L, null)), 1),
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, `user.name` STRING"))
    val res = Validate(df, "user.name" -> F.Required())
    assert(res.valid.count() == 1 && res.invalid.count() == 1)
  }

  test("pre-existing null _errors rows are not silently dropped by the merge") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING, _errors ARRAY<STRUCT<key: STRING, code: STRING, message: STRING>>")
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "ok", null),
      org.apache.spark.sql.Row(2L, "fine", Seq.empty))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val res = Validate(df, "v" -> F.Required())
    assert(res.valid.count() + res.invalid.count() == 2,
      "every row must land in exactly one split")
    assert(res.valid.count() == 2)
  }

  test("LogHandler: summarizes counts, returns valid rows") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val out = Validate(df, "v" -> F.Required()).logInvalid(lines += _)
    assert(out.count() == 2)
    assert(lines.exists(_.contains("v/empty: 1 invalid")))
  }

  test("logInvalid and persisted() splits read the cached frame, not the pushdown twin") {
    val dir = java.nio.file.Files.createTempDirectory("log_invalid").toString
    Seq((1L, "5"), (2L, "99"), (3L, null), (4L, "25")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$dir/src")
    val src = spark.read.parquet(s"$dir/src")
    val chain = F.Required(graft.filters.Emptiness.never) | F.Int() | F.Min(1) | F.Max(50)
    // the plan above the cached relation: no scan of the source again
    def assertCached(split: org.apache.spark.sql.DataFrame): Unit = {
      val plan = split.queryExecution.executedPlan.toString
      val top = plan.linesIterator.takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
      assert(top.contains("InMemoryTableScan") && !top.contains("FileScan"), plan.take(2000))
    }
    try {
      val res = Validate.columns(src, "v" -> chain)
      assert(res.pushedValid.nonEmpty, "a Required-led chain builds a pushdown twin")
      val logged = res.logInvalid(_ => ())
      try {
        assertCached(logged)
        assert(logged.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
      } finally res.df.unpersist()
      val cached = Validate.columns(src, "v" -> chain).persisted()
      try {
        assert(cached.pushedValid.isEmpty)
        assertCached(cached.valid)
        assertCached(cached.invalid)
      } finally cached.df.unpersist()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("observe publishes row/invalid counters without an extra job") {
    val res = Validate(df, "v" -> F.Required())
    // observe() wires metrics; the action must still return the full frame
    assert(res.observed().count() == 3)
  }

  test("Metrics listener receives observed validation counters") {
    val (buf, listener) = Metrics.collector(spark)
    try {
      Validate(df, "v" -> F.Required()).observed("hs_metrics").count()
      // listener callbacks land asynchronously; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (buf.synchronized(buf.isEmpty) && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val m = buf.synchronized(buf.find(_._1 == "hs_metrics")).map(_._2)
      assert(m.isDefined, s"no hs_metrics in $buf")
      assert(m.get("n_rows") == 3L && m.get("n_invalid") == 1L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("macros behave like their expanded chains") {
    val out = runFilter(Macros.cleanText, "STRING", Seq("  hi  ", null, "x"))
    assert(out(0) == (("hi", Seq())))
    assert(out(1)._2 == Seq("empty"))
    val r = runFilter(Macros.intInRange(1, 50), "STRING", Seq("25", "99"))
    assert(r(0) == ((25L, Seq())) && r(1)._2 == Seq("too_big"))
    val c = runFilter(Macros.choiceFolded("a", "b"), "STRING", Seq("A", "c"))
    assert(c(0) == (("a", Seq())) && c(1)._2 == Seq("not_valid_choice"))
    // uppercase CHOICES must also match (both sides are folded)
    val cu = runFilter(Macros.choiceFolded("Red", "Blue"), "STRING", Seq("RED", "red", "green"))
    assert(cu(0)._2.isEmpty && cu(1)._2.isEmpty && cu(2)._2 == Seq("not_valid_choice"))
  }

  test("flagship entry returns valid/invalid bucket counts > 0 rows") {
    val out = graft.SparkEntry.entry(spark).collect()
    assert(out.nonEmpty)
    val m = out.map(r => (r.getBoolean(0), r.getLong(1))).toMap
    assert(m.getOrElse(true, 0L) > 0L) // lineitem l_quantity 1..50, flags A/N/R → mostly valid
  }
}
